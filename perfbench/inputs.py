"""Seeded inputs, materialized once per (workload, seed, size) and cached.

Pages are the rows ``synth_pages(n, seed)`` yields, that is
``core.synth.gen_page(i, seed)`` for ``i < n``, written to parquet with the
pages schema by child interpreters (one file each), so no input generation
runs inside the measured Spark session. The same children apply the serial
``core.extract.extract_record`` oracle to each page and return one digest of
``(text, extract_status, content_kind)`` per url. Ingest texts are made here
from the seed. Cache keys carry a digest of ``ocr_spark/core``, so a change
to the generator or the parser never reuses stale inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import subprocess
import sys


def code_digest(root: str) -> str:
    h = hashlib.sha1()
    core = os.path.join(root, "ocr_spark", "core")
    for name in sorted(os.listdir(core)):
        if name.endswith(".py"):
            with open(os.path.join(core, name), "rb") as f:
                h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()[:12]


def record_digest(text: str, status: str, kind: str) -> str:
    payload = "\0".join((text, status, kind)).encode("utf-8", "surrogatepass")
    return hashlib.blake2b(payload, digest_size=12).hexdigest()


def _write_chunk(seed: int, lo: int, hi: int, out: str) -> dict[str, str]:
    """Pages ``lo..hi-1`` of ``seed`` to the parquet file ``out``; returns
    their oracle digests by url."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.core.extract import extract_record
    from ocr_spark.core.synth import gen_page

    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    rows = [gen_page(i, seed) for i in range(lo, hi)]
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), out, compression="zstd")
    digests = {}
    for p in rows:
        r = extract_record(p["url"], p["html"], p["text"], p["lang"])
        digests[r["url"]] = record_digest(r["text"], r["extract_status"], r["content_kind"])
    return digests


def pages(cache: str, specs: list[tuple[int, int]], procs: int
          ) -> list[tuple[str, dict[str, str]]]:
    """For each ``(seed, n)``: (parquet dir of pages ``0..n-1`` of ``seed``,
    url -> oracle digest). Missing ones are built by at most ``procs`` child
    interpreters at a time, each writing one parquet file."""
    todo, jobs = [], []
    for seed, n in specs:
        path = os.path.join(cache, f"pages-s{seed}-n{n}")
        if os.path.exists(os.path.join(path, "_oracle.json")):
            continue
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        todo.append((path, tmp, n))
        step = -(-n // procs)
        jobs += [(tmp, [sys.executable, "-m", "perfbench.inputs", str(seed), str(lo),
                        str(min(n, lo + step)), os.path.join(tmp, f"part-{lo:08d}.parquet")])
                 for lo in range(0, n, step)]
    oracles: dict[str, dict[str, str]] = {tmp: {} for _, tmp, _ in todo}
    for i in range(0, len(jobs), procs):
        wave = [(tmp, subprocess.Popen(cmd, stdout=subprocess.PIPE))
                for tmp, cmd in jobs[i:i + procs]]
        for tmp, child in wave:
            stdout, _ = child.communicate()
            if child.returncode != 0:
                raise RuntimeError(f"input child exited with {child.returncode}")
            oracles[tmp].update(json.loads(stdout))
    for path, tmp, n in todo:
        if len(oracles[tmp]) != n:
            raise RuntimeError(f"oracle has {len(oracles[tmp])} urls for {n} pages")
        # "_" files are invisible to Spark's parquet reader
        with open(os.path.join(tmp, "_oracle.json"), "w") as f:
            json.dump(oracles[tmp], f)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    out = []
    for seed, n in specs:
        path = os.path.join(cache, f"pages-s{seed}-n{n}")
        with open(os.path.join(path, "_oracle.json")) as f:
            out.append((path, json.load(f)))
    return out


# -- ingest texts --------------------------------------------------------------

_VOCAB = [f"w{k:04x}" for k in range(4096)]


def _text(r: random.Random) -> str:
    return " ".join(r.choice(_VOCAB) for _ in range(r.randint(60, 160)))


EXACT_FRAC = 0.10   # byte-exact copies of earlier originals per batch
NEAR_FRAC = 0.03    # three-word edits of earlier originals per batch


def ingest_batches(cache: str, seed: int, batch_size: int, n_batches: int) -> list[dict]:
    """``n_batches`` micro-batches of ``[doc_id, text]``. From batch 1 on,
    each carries ``EXACT_FRAC`` byte-exact copies and ``NEAR_FRAC``
    three-word edits of distinct original documents of earlier batches; every
    other text is new. Ids are unique across batches."""
    path = os.path.join(cache, f"ingest-s{seed}-b{batch_size}-n{n_batches}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    originals: list[tuple[int, str]] = []
    batches = []
    next_id = 0
    for b in range(n_batches):
        r = random.Random(seed * 1_000_003 + b)
        n_exact = round(EXACT_FRAC * batch_size) if b else 0
        n_near = round(NEAR_FRAC * batch_size) if b else 0
        sources = r.sample(originals, n_exact + n_near)
        rows, exact_ids, near_ids, fresh = [], [], [], []
        for k in range(batch_size):
            if k < n_exact:
                text = sources[k][1]
                exact_ids.append(next_id)
            elif k < n_exact + n_near:
                words = sources[k][1].split(" ")
                for pos in r.sample(range(len(words)), 3):
                    words[pos] = r.choice(_VOCAB)
                text = " ".join(words)
                near_ids.append(next_id)
            else:
                text = _text(r)
                fresh.append((next_id, text))
            rows.append([next_id, text])
            next_id += 1
        r.shuffle(rows)
        originals.extend(fresh)
        batches.append({"rows": rows, "exact_ids": exact_ids, "near_ids": near_ids})
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(batches, f)
    os.replace(tmp, path)
    return batches


if __name__ == "__main__":
    # one input chunk: python3 -m perfbench.inputs SEED LO HI OUT.parquet
    seed, lo, hi = (int(a) for a in sys.argv[1:4])
    json.dump(_write_chunk(seed, lo, hi, sys.argv[4]), sys.stdout)
