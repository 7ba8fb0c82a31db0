"""The three workloads. Each measures units of work until ``seconds`` have
passed (at least one unit; ``pipeline_resume`` runs a fixed sequence of
legs), checks every output against the oracle, and returns its numbers.

Unit of work per workload (the median unit wall is ``batch_p50_s``):
- ``extract_batch``: one ``extract_pages(repartition=True)`` pass of the
  pages into a parquet sink, after one warm-up pass over the first pages;
- ``pipeline_resume``: the resume leg, ``run_extract`` over the base plus a
  new delta, after leg A committed the base into an empty table;
- ``ingest_dedup``: one gated ``DedupIngest.process_batch`` call, after
  batch 0 seeded the state.

With tracing on, one traced unit runs after an untraced one (the tracing
overhead is the difference), and after the units the layers are timed from
outside through their public calls (prefix jobs, standalone calls), with
Spark's own numbers for each call read from its status stores.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from . import inputs
from .hostprobe import HostSampler
from .sparkstats import SparkStats
from .tracing import Tracer

MB = 2 ** 20

# Public calls wrapped in spans during a traced run: (module, attribute, span).
TRACE_TARGETS = [
    ("ocr_spark.sources.pages", "read_pages", "sources.read_pages"),
    ("ocr_spark.operators.extract_op", "extract_pages", "extract_op.extract_pages"),
    ("ocr_spark.pipeline", "extract_pages", "extract_op.extract_pages"),
    ("ocr_spark.operators.extract_op", "salted_repartition", "partitioning.salted_repartition"),
    ("ocr_spark.pipeline", "run_extract", "pipeline.run_extract"),
    ("ocr_spark.sources.iceberg_lite", "IcebergLiteTable.append", "iceberg_lite.append"),
    ("ocr_spark.sources.iceberg_lite", "IcebergLiteTable.overwrite", "iceberg_lite.overwrite"),
    ("ocr_spark.sources.iceberg_lite", "IcebergLiteTable.read", "iceberg_lite.read"),
    ("ocr_spark.streaming.ingest", "DedupIngest.process_batch", "ingest.process_batch"),
    ("ocr_spark.operators.dedup", "exact_dedup", "dedup.exact_dedup"),
    ("ocr_spark.streaming.ingest", "committed_state", "incremental.committed_state"),
    ("ocr_spark.streaming.ingest", "incremental_status_against_state",
     "incremental.status_against_state"),
    ("ocr_spark.streaming.ingest", "bloom_build", "bloom.build"),
    ("ocr_spark.streaming.ingest", "bloom_merge", "bloom.merge"),
]

EXTRACT_PAGES = 20_000
WARM_PAGES = 2_000             # extract_batch warm-up pass
PIPELINE_BASE = 3_000          # each resume leg adds a delta of a quarter of it
INGEST_BATCH = 400
INGEST_MAX_BATCHES = 16


@dataclass
class Ctx:
    spark: object
    work: str          # this run's scratch dir
    cache: str         # input cache shared by runs in this checkout
    seed: int
    seconds: float
    cores: int
    jvm_pid: int       # the Spark driver JVM; its tree is what peak RSS sums
    tracer: Tracer
    stats: SparkStats

    def window(self):
        """Spark's numbers for a call when tracing, else nothing (``w.result``
        stays None), so untraced runs make no extra status-store reads."""
        return self.stats.window() if self.tracer.enabled else _NoWindow()


class _NoWindow(contextlib.nullcontext):
    result = None

    def __enter__(self):
        return self


@dataclass
class Result:
    docs: int = 0                 # documents through the measured units
    docs_s: float = 0.0           # wall those documents took
    walls: list[float] = field(default_factory=list)   # one per unit
    measured_s: float = 0.0       # wall of the whole measured section
    attempted: int = 0
    failed: int = 0
    host: dict = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _identity(batches):
    yield from batches


def _check_extracted(rows: dict[str, list], oracle: dict[str, str]) -> int:
    """Failed documents: oracle urls missing, duplicated or mismatched in the
    output, plus output urls the oracle does not know."""
    seen: dict[str, str] = {}
    bad = 0
    for url, text, status, kind in zip(rows["url"], rows["text"],
                                       rows["extract_status"], rows["content_kind"]):
        if url in seen or url not in oracle:
            bad += 1
            continue
        seen[url] = inputs.record_digest(text, status, kind)
    for url, want in oracle.items():
        if seen.get(url) != want:
            bad += 1
    return bad


def _core_serial(seed: int, n: int) -> dict[str, float]:
    """Serial ``extract_record`` in the driver: docs/s on one core and
    microseconds per document by kind."""
    from ocr_spark.core.extract import extract_record
    from ocr_spark.core.synth import gen_page

    pages = [gen_page(i, seed) for i in range(n)]
    spent: dict[str, list[float]] = {"html": [], "pdf": [], "other": []}
    for p in pages:
        t = time.perf_counter()
        r = extract_record(p["url"], p["html"], p["text"], p["lang"])
        dt = time.perf_counter() - t
        kind = r["content_kind"] if r["content_kind"] in ("html", "pdf") else "other"
        spent[kind].append(dt)
    total = sum(sum(v) for v in spent.values())
    return {
        "core.docs_per_s_core": n / total,
        "core.html_us": 1e6 * statistics.mean(spent["html"]) if spent["html"] else 0.0,
        "core.pdf_us": 1e6 * statistics.mean(spent["pdf"]) if spent["pdf"] else 0.0,
        "core.other_us": 1e6 * statistics.mean(spent["other"]) if spent["other"] else 0.0,
    }


def _extract_op_layers(call, cores: int) -> dict[str, float]:
    """Python-boundary numbers of the MapInPandas node and the post-exchange
    stage(s) of one call."""
    post = call.exchange_read_stages()
    return {
        "extract_op.python_time_s": call.node("MapInPandas", "time to run Python workers"),
        "extract_op.python_init_s": call.node("MapInPandas", "time to initialize Python workers"),
        "extract_op.python_boot_s": call.node("MapInPandas", "time to start Python workers"),
        "extract_op.python_sent_mb": call.node("MapInPandas", "data sent to Python workers") / MB,
        "extract_op.python_returned_mb":
            call.node("MapInPandas", "data returned from Python workers") / MB,
        "extract_op.core_util": call.core_util(cores, post),
        "extract_op.gc_s": sum(s.gc_s for s in post),
        "extract_op.spill_mb": sum(s.spill_bytes for s in post) / MB,
    }


# -- extract_batch -------------------------------------------------------------

def extract_batch(ctx: Ctx) -> Result:
    from ocr_spark.operators import extract_op
    from ocr_spark.sources import pages as pages_mod

    n = EXTRACT_PAGES
    [(src, oracle), (warm_src, warm_oracle)] = inputs.pages(
        ctx.cache, [(ctx.seed, n), (ctx.seed, WARM_PAGES)], ctx.cores)
    sink = os.path.join(ctx.work, "sink")
    res = Result()

    def one_pass(path: str = src) -> None:
        df = extract_op.extract_pages(
            pages_mod.read_pages(ctx.spark, path), repartition=True
        )
        df.write.mode("overwrite").parquet(sink)

    def check(want: dict[str, str] = oracle) -> None:
        rows = pq.read_table(
            sink, columns=["url", "text", "extract_status", "content_kind"]
        ).to_pydict()
        res.attempted += len(want)
        res.failed += _check_extracted(rows, want)

    # warm-up on the first pages: JIT and first-use costs stay out of the numbers
    one_pass(warm_src)
    check(warm_oracle)
    traced_walls, calls = [], []
    sampler = HostSampler(ctx.jvm_pid).start()
    t0 = time.perf_counter()
    while not res.walls or sum(res.walls) < ctx.seconds:
        res.walls.append(_timed(one_pass))
        res.docs += n
        res.docs_s += res.walls[-1]
        check()
        if ctx.tracer.enabled and len(traced_walls) < len(res.walls) - 1:
            # traced passes sit between untraced ones, for the tracing overhead
            with ctx.stats.window(task_rows=True) as w, \
                    ctx.tracer.patched(TRACE_TARGETS), ctx.tracer.span("unit.extract_pass"):
                traced_walls.append(_timed(one_pass))
            calls.append(w.result)
            check()
    res.measured_s = time.perf_counter() - t0
    res.host = sampler.stop()
    if not ctx.tracer.enabled:
        return res

    cols = list(extract_op.INPUT_COLS)
    with ctx.tracer.patched(TRACE_TARGETS):
        def read():
            return pages_mod.read_pages(ctx.spark, src).select(*cols)

        def exchanged():
            return extract_op.salted_repartition(read(), 2 * ctx.cores)

        prefixes = {
            "scan": lambda: _noop(read()),
            "exchange": lambda: _noop(exchanged()),
            "arrow": lambda: _noop(exchanged().mapInPandas(_identity, schema=read().schema)),
            "parse": lambda: _noop(extract_op.extract_pages(read(), repartition=True)),
            "sink": one_pass,
        }
        best: dict[str, float] = {}
        for _ in range(2):  # the lower of two walls per prefix
            for name, fn in prefixes.items():
                with ctx.stats.window() as w, ctx.tracer.span(f"prefix.{name}"):
                    wall = _timed(fn)
                best[name] = min(best.get(name, wall), wall)
                if name == "scan":
                    scan_call = w.result
        check()
    with ctx.tracer.span("core.extract_record_serial"):
        core = _core_serial(ctx.seed, 1500)

    last = calls[-1]
    layers = {
        "sources.scan_s": best["scan"],
        "sources.scan_mb": scan_call.node("Scan", "size of files read") / MB,
        "sources.gc_s": scan_call.sum("gc_s"),
        "partitioning.exchange_s": best["exchange"] - best["scan"],
        "partitioning.shuffle_mb": last.sum("shuffle_write_bytes") / MB,
        "partitioning.skew": last.skew(),
        "extract_op.arrow_s": best["arrow"] - best["exchange"],
        "extract_op.parse_s": best["parse"] - best["arrow"],
        "sink.write_s": best["sink"] - best["parse"],
        "sink.mb": last.sum("output_bytes") / MB,
        "extract_op.ceiling_frac":
            (res.docs / res.docs_s) / (core["core.docs_per_s_core"] * ctx.cores),
        "trace.overhead_s": statistics.median(traced_walls) - statistics.median(res.walls),
    }
    layers.update(core)
    layers.update(_mean_layers([_extract_op_layers(c, ctx.cores) for c in calls]))
    res.layers = layers
    return res


def _mean_layers(rows: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.mean(r[k] for r in rows) for k in rows[0]}


# -- pipeline_resume -----------------------------------------------------------

def pipeline_resume(ctx: Ctx) -> Result:
    from ocr_spark import pipeline
    from ocr_spark.operators import extract_op
    from ocr_spark.sources import pages as pages_mod
    from ocr_spark.sources.iceberg_lite import IcebergLiteTable

    nb, nd = PIPELINE_BASE, PIPELINE_BASE // 4
    n_resume = 1 + ctx.tracer.enabled  # a traced run adds one traced leg
    # resume leg k's delta comes from its own seed; urls embed the seed, so
    # every delta url is new to the table
    made = inputs.pages(
        ctx.cache,
        [(ctx.seed, nb)] + [(ctx.seed + 7919 * k, nd) for k in range(1, n_resume + 1)],
        ctx.cores,
    )
    if len({u for _, o in made for u in o}) != nb + nd * n_resume:
        raise RuntimeError("base and delta urls overlap")
    root = os.path.join(ctx.work, "pipeline")
    table = IcebergLiteTable(os.path.join(root, "extracted"))
    res = Result()
    legs: list[dict] = []

    def pages_upto(k: int):
        df = pages_mod.read_pages(ctx.spark, made[0][0])
        for path, _ in made[1:k + 1]:
            df = df.unionByName(pages_mod.read_pages(ctx.spark, path))
        return df

    def leg(k: int, traced: bool = False) -> dict:
        with ctx.window() as w, \
                (ctx.tracer.patched(TRACE_TARGETS) if traced else contextlib.nullcontext()), \
                ctx.tracer.span(f"unit.leg_{'a' if k == 0 else 'b'}"):
            t = time.perf_counter()
            out = pipeline.run_extract(ctx.spark, pages_upto(k), root, run_id=f"leg{k}", chunks=4)
            wall = time.perf_counter() - t
        want = nb if k == 0 else nd  # a resume leg commits only its delta
        res.attempted += want
        res.failed += abs(out.docs - want)
        rec = {"leg": k, "wall_s": wall, "docs": out.docs, "traced": traced, "call": w.result}
        legs.append(rec)
        res.docs += out.docs
        res.docs_s += wall
        return rec

    # a fixed sequence: leg A, one resume leg, and in a traced run one traced
    # resume leg after it, for the tracing overhead
    sampler = HostSampler(ctx.jvm_pid).start()
    t0 = time.perf_counter()
    leg_a = leg(0)["wall_s"]
    res.walls.append(leg(1)["wall_s"])
    traced_walls = [leg(2, traced=True)["wall_s"]] if ctx.tracer.enabled else []
    res.measured_s = time.perf_counter() - t0
    res.host = sampler.stop()

    rows = pipeline.read_extracted(ctx.spark, root).select(
        "url", "text", "extract_status", "content_kind"
    ).toPandas()
    expected = {u: d for _, o in made for u, d in o.items()}
    res.failed += _check_extracted({c: rows[c].tolist() for c in rows.columns}, expected)
    res.notes["legs"] = [{x: v for x, v in r.items() if x != "call"} for r in legs]
    if not ctx.tracer.enabled:
        return res

    with ctx.tracer.patched(TRACE_TARGETS):
        with ctx.tracer.span("probe.plain_extract_parquet"):
            plain = _timed(lambda: extract_op.extract_pages(
                pages_mod.read_pages(ctx.spark, made[0][0])
            ).write.mode("overwrite").parquet(os.path.join(ctx.work, "plain")))
        with ctx.tracer.span("probe.antijoin"):
            antijoin = _timed(lambda: _noop(
                pages_upto(n_resume).join(table.read(ctx.spark).select("url"), "url", "left_anti")
            ))
        with ctx.tracer.span("probe.table_read"):
            table_read = _timed(lambda: _noop(table.read(ctx.spark)))
    call_a = legs[0]["call"]
    user_bytes = sum(len(u.encode()) + len(t.encode("utf-8", "surrogatepass"))
                     for u, t in zip(rows["url"], rows["text"]))
    layers = {
        "pipeline.overhead_s": leg_a - plain,
        "pipeline.antijoin_s": antijoin,
        "pipeline.core_util": call_a.core_util(ctx.cores, wall_s=leg_a),
        "pipeline.sql_execs": statistics.mean(r["call"].n_execs for r in legs),
        "pipeline.gc_s": statistics.mean(r["call"].sum("gc_s") for r in legs),
        "pipeline.spill_mb": statistics.mean(r["call"].sum("spill_bytes") for r in legs) / MB,
        # only the traced leg ran with its appends wrapped in spans
        "iceberg_lite.append_s": ctx.tracer.self_times().get("iceberg_lite.append", 0.0),
        "iceberg_lite.read_s": table_read,
        "iceberg_lite.bytes_per_user_byte": _du(table.root) / user_bytes,
        "iceberg_lite.state_mb": _du(root) / MB,
        "trace.overhead_s": traced_walls[0] - statistics.median(res.walls),
    }
    layers.update(_extract_op_layers(call_a, ctx.cores))
    res.layers = layers
    return res


# -- ingest_dedup --------------------------------------------------------------

def _shingles(text: str) -> set[str]:
    """Word 3-gram shingles of the lowercased, whitespace-collapsed text."""
    toks = " ".join(text.lower().split()).split(" ")
    if len(toks) < 3:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def _jaccard(a: set, b: set) -> float:
    return round(len(a & b) / len(a | b), 4)


def _check_ingest(batches: list[dict], rows: list, admitted: set[int],
                  threshold: float) -> int:
    """Failed batches. Per batch: the call did not raise; every planted
    exact copy came back ``exact_seen`` and nothing else did; every
    ``near_seen`` document has a committed document at jaccard >= threshold;
    the status counts sum to ``n_unique``, which is the batch size."""
    committed_text: set[str] = set()
    committed_sh: list[set[str]] = []
    index: dict[str, list[int]] = {}
    failed = 0
    for batch, row in zip(batches, rows):
        ids = [i for i, _ in batch["rows"]]
        text = dict(batch["rows"])
        new = {i for i in ids if i in admitted}
        exact = {i for i in ids if " ".join(text[i].lower().split()) in committed_text}
        near = set(ids) - new - exact
        ok = (
            isinstance(row, dict)
            and set(batch["exact_ids"]) <= exact
            and row["n_unique"] == len(ids)
            and row["n_new"] + row["n_exact_seen"] + row["n_near_seen"] == row["n_unique"]
            and row["n_new"] == len(new)
            and row["n_exact_seen"] == len(exact)
            and row["n_near_seen"] == len(near)
            and not (exact & new)
        )
        for i in near if ok else ():
            sh = _shingles(text[i])
            cands = {c for s in sh for c in index.get(s, ())}
            if not any(_jaccard(sh, committed_sh[c]) >= threshold for c in cands):
                ok = False
                break
        failed += not ok
        for i in sorted(new):
            committed_text.add(" ".join(text[i].lower().split()))
            committed_sh.append(_shingles(text[i]))
            for s in committed_sh[-1]:
                index.setdefault(s, []).append(len(committed_sh) - 1)
    return failed


def ingest_dedup(ctx: Ctx) -> Result:
    from ocr_spark.operators import bloom, dedup, incremental
    from ocr_spark.streaming.ingest import DedupIngest

    batches = inputs.ingest_batches(ctx.cache, ctx.seed, INGEST_BATCH, INGEST_MAX_BATCHES)
    root = os.path.join(ctx.work, "ingest")
    ing = DedupIngest(root)
    res = Result()
    rows: list = []
    calls = []

    def frame(b: int):
        return ctx.spark.createDataFrame(batches[b]["rows"], "doc_id long, text string")

    def run_batch(b: int, traced: bool = False) -> float:
        if b >= len(batches):
            raise RuntimeError(f"no input for ingest batch {b}")
        df = frame(b)
        with ctx.window() as w, \
                (ctx.tracer.patched(TRACE_TARGETS) if traced else contextlib.nullcontext()), \
                ctx.tracer.span("unit.process_batch"):
            t = time.perf_counter()
            try:
                rows.append(ing.process_batch(df, b))
            except Exception as e:  # a batch that raises counts as failed
                rows.append(repr(e))
            wall = time.perf_counter() - t
        calls.append(w.result)
        return wall

    run_batch(0)  # no committed state yet, so no gate: not a measured unit
    sampler = HostSampler(ctx.jvm_pid).start()
    t0 = time.perf_counter()
    b, traced_walls = 1, []
    while not res.walls or sum(res.walls) < ctx.seconds:
        res.walls.append(run_batch(b))
        res.docs += INGEST_BATCH
        res.docs_s += res.walls[-1]
        b += 1
        if ctx.tracer.enabled and not traced_walls:
            # one traced batch between untraced ones, for the tracing overhead
            traced_walls.append(run_batch(b, traced=True))
            b += 1
    res.measured_s = time.perf_counter() - t0
    res.host = sampler.stop()

    admitted = set(ing.corpus.read(ctx.spark).select("doc_id").toPandas()["doc_id"].tolist())
    res.attempted = b
    res.failed = _check_ingest(batches[:b], rows, admitted, ing.threshold)
    res.notes["batches"] = rows
    if not ctx.tracer.enabled:
        return res

    # the gate's parts, each timed alone on the next batch against the
    # state committed so far
    with ctx.tracer.patched(TRACE_TARGETS), ctx.tracer.span("probe.gate_parts"):
        uniq = dedup.exact_dedup(frame(b))
        state = ing.state.read(ctx.spark)
        bl = ing.bloom.read(ctx.spark)
        delta = incremental.committed_state(uniq)
        layers = {
            "dedup.exact_s": _timed(lambda: _noop(uniq)),
            "incremental.committed_state_s": _timed(lambda: _noop(delta)),
            "incremental.gate_s": _timed(lambda: _noop(
                incremental.incremental_status_against_state(
                    uniq, state, bloom=bl, bloom_n_blocks=ing.n_blocks))),
            "bloom.merge_s": _timed(lambda: _noop(bloom.bloom_merge(
                bl, bloom.bloom_build(delta.select("fp"), "fp", n_blocks=ing.n_blocks)))),
            "iceberg_lite.read_s": _timed(lambda: _noop(state)),
        }
    good = [r for r in rows[1:] if isinstance(r, dict)]
    gated = calls[1:]
    self_t = ctx.tracer.self_times()
    user = sum(len(t.encode()) + 8 for bt in batches[:b] for i, t in bt["rows"] if i in admitted)
    layers.update({
        "ingest.sql_execs_per_batch": statistics.mean(c.n_execs for c in gated),
        "ingest.admit_frac": sum(r["n_new"] for r in good) / sum(r["n_unique"] for r in good),
        "ingest.gc_s": statistics.mean(c.sum("gc_s") for c in gated),
        "ingest.spill_mb": statistics.mean(c.sum("spill_bytes") for c in gated) / MB,
        "iceberg_lite.append_s": self_t.get("iceberg_lite.append", 0.0)
            + self_t.get("iceberg_lite.overwrite", 0.0),
        "iceberg_lite.bytes_per_user_byte": _du(root) / user,
        "iceberg_lite.state_mb": _du(root) / MB,
        "trace.overhead_s": traced_walls[0] - statistics.median(res.walls),
    })
    res.layers = layers
    return res


WORKLOADS = {
    "extract_batch": extract_batch,
    "pipeline_resume": pipeline_resume,
    "ingest_dedup": ingest_dedup,
}
