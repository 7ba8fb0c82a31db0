"""Benchmark inputs equal what the program's own source and parser produce."""

from perfbench import inputs
from perfbench.workloads import _check_extracted


def test_pages_match_synth_pages_and_oracle_matches_extract(spark, tmp_path):
    from ocr_spark.operators.extract_op import extract_pages
    from ocr_spark.sources.pages import read_pages, synth_pages

    n, seed = 60, 5
    [(path, oracle)] = inputs.pages(str(tmp_path), [(seed, n)], procs=2)
    cols = ["url", "warc_ts", "html", "text", "lang"]
    mine = read_pages(spark, path).orderBy("url").collect()
    want = synth_pages(spark, n, seed=seed).orderBy("url").collect()
    assert [tuple(r[c] for c in cols) for r in mine] == [tuple(r[c] for c in cols) for r in want]

    out = extract_pages(read_pages(spark, path), repartition=True).toPandas()
    rows = {c: out[c].tolist() for c in ("url", "text", "extract_status", "content_kind")}
    assert len(oracle) == n
    assert _check_extracted(rows, oracle) == 0
    # a cached input is reused as is
    assert inputs.pages(str(tmp_path), [(seed, n)], procs=2) == [(path, oracle)]


def test_check_extracted_counts_each_bad_document():
    oracle = {
        "u1": inputs.record_digest("a", "ok", "html"),
        "u2": inputs.record_digest("b", "ok", "html"),
        "u3": inputs.record_digest("c", "ok", "pdf"),
    }
    rows = {
        "url": ["u1", "u2", "u2", "u9"],
        "text": ["a", "B", "b", "x"],
        "extract_status": ["ok", "ok", "ok", "ok"],
        "content_kind": ["html", "html", "html", "html"],
    }
    # u2 mismatched (its duplicate is counted too), u3 missing, u9 unknown
    assert _check_extracted(rows, oracle) == 4


def test_ingest_batches_plant_copies_and_edits_of_earlier_originals(tmp_path):
    batches = inputs.ingest_batches(str(tmp_path), seed=3, batch_size=100, n_batches=4)
    assert batches == inputs.ingest_batches(str(tmp_path), seed=3, batch_size=100, n_batches=4)
    seen: set[str] = set()
    ids = [i for b in batches for i, _ in b["rows"]]
    assert len(ids) == len(set(ids))
    for k, b in enumerate(batches):
        text = dict(b["rows"])
        assert len(b["exact_ids"]) == (10 if k else 0)
        assert len(b["near_ids"]) == (3 if k else 0)
        assert all(text[i] in seen for i in b["exact_ids"])
        assert not any(text[i] in seen for i in b["near_ids"])
        assert len(set(text.values())) == len(text)  # no copies within a batch
        seen.update(text.values())
