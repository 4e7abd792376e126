"""End-to-end Spark extraction vs the pure-Python oracle.

The byte-identical gate: every synthetic document (all doc types, all
cascade variants, both payload kinds, skew blobs) must come out of the
distributed mapInPandas pipeline with EXACTLY the record the reference
semantics produce row-by-row.
"""

import pytest

from ocr_spark.operators.cascade import extract_record
from ocr_spark.plans import pipeline
from ocr_spark.sources import synth

N_DOCS = 200


def _doc_type_of(url: str) -> str:
    import re
    return re.search(r"/([a-z_]+)/[^/]*$", url).group(1)


def _oracle(rows):
    import json
    out = {}
    for r in rows:
        meta = json.loads(r["meta"]) if r.get("meta") else {}
        doc_type = meta.get("doc_type") or _doc_type_of(r["url"])
        password = meta.get("password") or ""
        rec = extract_record(r["url"], r["html"], r["text"], doc_type, password)
        out[r["url"]] = rec
    return out


@pytest.fixture(scope="module")
def extracted(spark):
    rows = synth.fixture_rows() + synth.generate_rows(N_DOCS)
    df = spark.createDataFrame(rows, schema=__import__("ocr_spark.schemas", fromlist=["x"]).INPUT_SCHEMA)
    result = pipeline.run_extraction(spark, df, run_id="testrun", num_partitions=8)
    collected = {r["url"]: r.asDict(recursive=True) for r in result.collect()}
    return rows, collected


def test_row_count_and_no_loss(extracted):
    rows, collected = extracted
    assert len(collected) == len(rows)


def test_byte_identical_extracted_text(extracted):
    rows, collected = extracted
    oracle = _oracle(rows)
    for url, expect in oracle.items():
        got = collected[url]
        assert got["extracted_text"] == expect["extracted_text"], url
        assert got["error"] == expect["error"], url


def test_struct_fields_identical(extracted):
    rows, collected = extracted
    oracle = _oracle(rows)
    for url, expect in oracle.items():
        got = collected[url]
        for slot in ("salary", "itr", "aadhaar", "pan", "dl",
                     "employee", "appointment"):
            assert got[slot] == expect[slot], f"{url} {slot}"
        # bank: transactions carry dates — compare piecewise.
        if expect["bank"] is None:
            assert got["bank"] is None, url
        else:
            assert got["bank"]["account_number"] == expect["bank"]["account_number"]
            assert got["bank"]["account_holder_name"] == expect["bank"]["account_holder_name"]
            gtx = got["bank"]["transactions"]
            etx = expect["bank"]["transactions"]
            assert len(gtx) == len(etx), url
            for g, e in zip(gtx, etx):
                assert g == e, url


def test_quality_identical(extracted):
    rows, collected = extracted
    oracle = _oracle(rows)
    for url, expect in oracle.items():
        got = collected[url]
        if expect["quality"] is None:
            assert got["quality"] is None, url
        else:
            assert got["quality"] == expect["quality"], url


def test_lineage_populated(extracted):
    rows, collected = extracted
    for url, got in collected.items():
        assert got["run_id"] == "testrun"
        assert got["partition_id"] >= 0
        assert got["extractor_version"] == "0.1.0"
        assert got["input_bytes"] > 0


def test_fixture_docs_replay(extracted):
    """The reference fixtures through the batch path (north_rule)."""
    _, collected = extracted
    base = "https://docs.synth.local/fixtures"

    s = collected[f"{base}/salary_slip/fx-salary-text.png"]
    assert s["salary"]["employee_name"] == "ABC Corp"
    assert s["salary"]["pay_month"] == "October 2025"
    assert s["salary"]["net_salary"] == 50000.0
    assert s["salary"]["account_number"] == "1234567890"
    assert s["extracted_text"] == synth.FIXTURE_SALARY

    b = collected[f"{base}/bank_statement/fx-bank-text.png"]
    assert b["bank"]["account_holder_name"] == "John Doe"
    assert len(b["bank"]["transactions"]) == 2

    # Scanned variants recover the same text + a page-break newline.
    s2 = collected[f"{base}/salary_slip/fx-salary-scan.pdf"]
    assert s2["extracted_text"] == synth.FIXTURE_SALARY + "\n"
    assert s2["salary"]["employee_name"] == "ABC Corp"
    assert s2["quality"]["ocr_confidence"] == 75.0
    assert s2["quality"]["final_score"] == 77.5


def test_password_channel(extracted):
    """S2/S4: per-row metadata JSON supplies doc_type + password (ref
    dto/models.go:12-16, income_service.go:43-46, pdf_processor.go:34-60)."""
    _, collected = extracted
    base = "https://docs.synth.local/fixtures"

    # Correct password: decrypt succeeds, vector-PDF path, full parse.
    ok = collected[f"{base}/salary_slip/fx-salary-enc-ok.pdf"]
    assert ok["error"] is None
    assert ok["extracted_text"] == synth.FIXTURE_SALARY + "\n"
    assert ok["salary"]["net_salary"] == 50000.0
    assert ok["quality"]["final_score"] == 100.0

    # Wrong password on the income path: soft degrade — both extraction
    # stages fail, issues recorded, parser sees empty text (ref
    # ProcessDocument never hard-fails on decrypt errors).
    bad = collected[f"{base}/salary_slip/fx-salary-enc-bad.pdf"]
    assert bad["error"] is None
    assert bad["extracted_text"] == ""
    assert bad["quality"]["issues"] == [
        "pdf_text_extraction_failed", "pdf_image_extraction_failed"]
    assert bad["salary"]["net_salary"] == 0.0

    # Wrong password on the Aadhaar path: the decrypt error string
    # surfaces verbatim (ref pdf_processor.go:56 'failed to decrypt PDF').
    enc = collected[f"{base}/aadhaar/fx-aadhaar-enc-bad.pdf"]
    assert enc["error"] == "failed to decrypt PDF"
    assert enc["aadhaar"] is None

    # Metadata doc_type override: urls with a bogus 'misc' segment must
    # still classify via meta (i % 31 == 11 synth family).
    misc = [u for u in collected if "/misc/" in u]
    assert misc, "expected meta-override rows in the synth sample"
    for u in misc:
        assert collected[u]["doc_type"] in synth.DOC_TYPES


def test_giant_blob_isolated(extracted):
    rows, collected = extracted
    giants = [u for u, g in collected.items()
              if g["input_bytes"] >= pipeline.GIANT_BLOB_THRESHOLD]
    assert giants, "expected at least one giant blob in the synth sample"
    for u in giants:
        assert collected[u]["error"] is None or "panic" not in collected[u]["error"]


def test_lineage_independent_of_input_order(spark):
    """row_in_partition numbers rows in the order the extractor sees
    them; the same rows in another order and partitioning must commit
    the same (url, partition_id, row_in_partition), duplicate urls
    included."""
    from ocr_spark import schemas
    rows = synth.generate_rows(60)
    rows += [dict(rows[0], text="a second body"),
             dict(rows[1], text=None)]

    def lineage(df):
        out = pipeline.run_extraction(spark, df, run_id="r",
                                      num_partitions=4)
        return sorted((r["url"], r["partition_id"], r["row_in_partition"],
                       r["extracted_text"]) for r in out.collect())

    forward = spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA)
    backward = spark.createDataFrame(rows[::-1], schema=schemas.INPUT_SCHEMA)
    assert (lineage(forward.coalesce(1))
            == lineage(backward.repartition(3)))


def test_metrics_table(spark, extracted):
    rows, _ = extracted
    df = spark.createDataFrame(rows, schema=__import__("ocr_spark.schemas", fromlist=["x"]).INPUT_SCHEMA)
    result = pipeline.run_extraction(spark, df, run_id="m1", num_partitions=8)
    metrics = pipeline.partition_metrics(result).collect()
    assert sum(m["docs_total"] for m in metrics) == len(rows)
    assert all(m["extractor_version"] == "0.1.0" for m in metrics)
    assert sum(m["bytes_total"] for m in metrics) > 0
