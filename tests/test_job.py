"""spark-submit job entrypoint: resumable CLI pass + real --py-files
deployment (north_rule: run via spark-submit --py-files)."""

import json
import os
import subprocess
import sys
import zipfile

import pytest

from ocr_spark import job, schemas
from ocr_spark.sources import snapshot, synth

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_job_main_resumable(spark, tmp_path):
    inp = str(tmp_path / "in.parquet")
    rows = synth.generate_rows(48)
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA) \
        .repartition(4).write.parquet(inp)

    table = str(tmp_path / "table")
    metrics = str(tmp_path / "metrics")

    r1 = job.main(["--input", inp, "--table", table, "--metrics", metrics,
                   "--partitions", "4"], spark=spark)
    assert r1["processed"] == 48
    assert r1["committed_rows"] == 48

    # Second run over the same input: anti-join skips everything.
    r2 = job.main(["--input", inp, "--table", table, "--metrics", metrics,
                   "--partitions", "4"], spark=spark)
    assert r2["processed"] == 0
    assert r2["committed_rows"] == 48

    m = spark.read.parquet(metrics)
    assert m.agg({"docs_total": "sum"}).first()[0] == 48
    assert set(m.select("extractor_version").distinct().toPandas()
               ["extractor_version"]) == {"0.1.0"}


def test_job_catalog_table_by_name(spark, tmp_path):
    """--catalog resolves --table as a metastore NAME: created on first
    use, resumed by name on the second pass, queryable via the catalog."""
    from ocr_spark.sources.catalog import Catalog

    inp = str(tmp_path / "in.parquet")
    rows = synth.generate_rows(24)
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA) \
        .repartition(2).write.parquet(inp)
    ms = str(tmp_path / "metastore")

    r1 = job.main(["--input", inp, "--catalog", ms, "--table", "web.docs",
                   "--partitions", "2"], spark=spark)
    assert r1["processed"] == 24
    r2 = job.main(["--input", inp, "--catalog", ms, "--table", "web.docs",
                   "--partitions", "2"], spark=spark)
    assert r2["processed"] == 0  # resumed BY NAME, not path

    c = Catalog(ms)
    assert [e["table"] for e in c.list_tables("web")] == ["docs"]
    assert c.load_table("web.docs").read(spark).count() == 24


def test_job_domain_filter_caps_and_blocks(spark, tmp_path):
    """--domain-filter persists the per-host profile + the gated corpus;
    the cap bounds each host and the blocklist drops subdomains too."""
    inp = str(tmp_path / "in.parquet")
    rows = synth.generate_rows(60)
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA) \
        .repartition(2).write.parquet(inp)
    table = str(tmp_path / "table")
    out = str(tmp_path / "domains")

    r = job.main(["--input", inp, "--table", table, "--partitions", "2",
                  "--domain-filter", out,
                  "--domain-block", "blocked.example",
                  "--domain-cap", "25"], spark=spark)
    df = r["domain_filter"]
    # synth urls all live on docs.synth.local -> one host, capped at 25
    assert df["hosts"] == 1
    assert df["docs"] == 60 and df["kept"] == 25 and df["dropped"] == 35
    stats = spark.read.parquet(f"{out}/stats").collect()
    assert [(s["host"], s["n_docs"]) for s in stats] == [
        ("docs.synth.local", 60)]
    kept = spark.read.parquet(f"{out}/filtered")
    assert kept.count() == 25
    assert set(kept.columns) == set(
        spark.read.parquet(f"{table}/data/run-000001").columns)

    # orphaned flags and empty gates are usage errors
    with pytest.raises(SystemExit):
        job.main(["--synth", "4", "--table", table,
                  "--domain-cap", "5"], spark=spark)
    with pytest.raises(SystemExit):
        job.main(["--synth", "4", "--table", table,
                  "--domain-filter", out], spark=spark)
    with pytest.raises(SystemExit):
        job.main(["--synth", "4", "--table", table, "--domain-filter",
                  out, "--domain-block", "http://x.com"], spark=spark)


def test_job_robots_filter_gates_corpus(spark, tmp_path):
    """--robots-filter drops the urls the host's robots.txt disallows
    for the agent, persists the parsed rules, and reports the counts.
    Hosts with no robots row stay crawl-by-default."""
    inp = str(tmp_path / "in.parquet")
    rows = []
    for i in range(12):
        host = "a.synth.local" if i % 2 == 0 else "b.synth.local"
        path = f"/private/{i}.html" if i % 3 == 0 else f"/pub/{i}.html"
        rows.append((f"https://{host}{path}", None, None,
                     f"doc {i}", "en", None))
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA) \
        .write.parquet(inp)
    robots = str(tmp_path / "robots.parquet")
    spark.createDataFrame(
        [("a.synth.local",
          "User-agent: mybot\nDisallow: /private\n"
          "User-agent: *\nDisallow: /")],
        "host string, robots_txt string").write.parquet(robots)

    table = str(tmp_path / "table")
    out = str(tmp_path / "robots")
    r = job.main(["--input", inp, "--table", table, "--partitions", "2",
                  "--robots-filter", out, "--robots-txt", robots,
                  "--robots-agent", "mybot"], spark=spark)
    rf = r["robots_filter"]
    # a.* has even i in 0..11 -> i in {0,6} are /private (blocked);
    # b.* has no robots row -> all 6 allowed.
    assert rf == {"agent": "mybot", "hosts_with_rules": 1, "rules": 1,
                  "sitemaps_discovered": 0,
                  "docs": 12, "kept": 10, "dropped": 2}
    kept = spark.read.parquet(f"{out}/filtered")
    assert kept.count() == 10
    assert not [u for (u,) in kept.select("url").collect()
                if "a.synth.local/private" in u]
    rules = spark.read.parquet(f"{out}/rules").collect()
    assert [(x["host"], x["allow"], x["pattern"]) for x in rules] == [
        ("a.synth.local", False, "/private")]

    # flag dependencies are usage errors
    with pytest.raises(SystemExit):
        job.main(["--synth", "4", "--table", table,
                  "--robots-filter", out], spark=spark)
    with pytest.raises(SystemExit):
        job.main(["--synth", "4", "--table", table,
                  "--robots-txt", robots], spark=spark)
    with pytest.raises(SystemExit):
        job.main(["--synth", "4", "--table", table,
                  "--robots-agent", "mybot"], spark=spark)


def test_job_neardup_reports_hot_bucket_drops(spark, tmp_path):
    """A planted degenerate corpus (identical docs) run through the job
    --neardup stage must persist + surface nonzero drop counters —
    capped runs are never silent."""
    from pyspark.sql import functions as F

    inp = str(tmp_path / "in.parquet")
    boiler = ("identical boilerplate body text repeated across every "
              "document in this degenerate corpus for the cap to drop")
    spark.range(200).select(
        F.concat(F.lit("https://cc.synth.local/app"),
                 F.col("id").cast("string"),
                 F.lit("/salary_slip/"), F.col("id").cast("string"),
                 F.lit(".png")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.lit(boiler).alias("text"),
        F.lit("en").alias("lang"),
        F.lit(None).cast("string").alias("meta"),
    ).write.parquet(inp)

    table = str(tmp_path / "table")
    nd = str(tmp_path / "neardup")
    r = job.main(["--input", inp, "--table", table, "--partitions", "2",
                  "--neardup", nd, "--neardup-max-bucket", "50"],
                 spark=spark)
    assert r["processed"] == 200
    assert r["neardup"]["n_hot_buckets"] >= 1
    assert r["neardup"]["rows_dropped"] >= 200
    assert r["neardup"]["pairs"] == 0  # clique dropped, exact_dedup owns it
    assert spark.read.parquet(f"{nd}/bucket_report").count() == 1


def test_job_dedup_apply_shrinks_corpus(spark, tmp_path):
    """--dedup-apply turns the --neardup pairs into decisions: one
    survivor per planted 3-member cluster, losers anti-joined out of
    the persisted survivor corpus."""
    import hashlib

    inp = str(tmp_path / "in.parquet")
    rows = []
    for g in range(4):
        body = " ".join(hashlib.md5(f"jg{g}:{j}".encode()).hexdigest()
                        for j in range(6))
        for v in range(3):
            i = g * 3 + v
            rows.append((f"https://cc.synth.local/app{i}/salary_slip/"
                         f"{i}.png", None, None,
                         body + f" variant {v}", "en", None))
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA) \
        .write.parquet(inp)

    table = str(tmp_path / "table")
    nd = str(tmp_path / "neardup")
    da = str(tmp_path / "apply")
    r = job.main(["--input", inp, "--table", table, "--partitions", "2",
                  "--neardup", nd, "--dedup-apply", da], spark=spark)
    assert r["neardup"]["pairs"] == 12  # 3 per clique x 4 cliques
    assert r["dedup_apply"] == {"docs": 12, "survivors": 4,
                                "dropped": 8, "clusters": 4}
    assert spark.read.parquet(f"{da}/survivors").count() == 4
    resolved = spark.read.parquet(f"{da}/resolved")
    assert resolved.count() == 12
    # One keeper per cluster; cluster ids are member urls.
    from pyspark.sql import functions as F
    agg = resolved.groupBy("cluster").agg(
        F.sum(F.col("keep").cast("int")).alias("keepers")).collect()
    assert len(agg) == 4 and all(row["keepers"] == 1 for row in agg)


def test_job_dedup_apply_requires_neardup(spark, tmp_path):
    """--dedup-apply without --neardup is a usage error, not a silent
    no-op (r4 review)."""
    import pytest
    with pytest.raises(SystemExit):
        job._parse(["--synth", "4", "--table", str(tmp_path / "t"),
                    "--dedup-apply", str(tmp_path / "da")])


def test_job_quality_filter_reports_counts(spark, tmp_path):
    """--quality-filter drops the planted repetitive page and persists
    signals + filtered corpus with counts in the summary."""
    from pyspark.sql import functions as F

    inp = str(tmp_path / "in.parquet")
    spam = "intro line" + "\nrepeated boiler line" * 3
    prose = ("the quick brown fox jumps over the lazy dog while a calm "
             "river flows past the old stone bridge in the morning sun")
    spark.createDataFrame(
        [(f"https://cc.synth.local/app{i}/salary_slip/{i}.png", None,
          None, spam if i % 2 == 0 else prose, "en", None)
         for i in range(6)], schema=schemas.INPUT_SCHEMA).write.parquet(inp)

    table = str(tmp_path / "table")
    qf = str(tmp_path / "qf")
    r = job.main(["--input", inp, "--table", table, "--partitions", "2",
                  "--quality-filter", qf], spark=spark)
    assert r["quality_filter"] == {"docs": 6, "kept": 3, "dropped": 3}
    assert spark.read.parquet(f"{qf}/filtered").count() == 3
    sig = spark.read.parquet(f"{qf}/signals")
    assert sig.count() == 6
    assert sig.filter("NOT keep").count() == 3


def test_job_quality_filter_gopher_full(spark, tmp_path):
    """--quality-filter --gopher-full applies all 12 Table A1 gates:
    a 16-word phrase repeated twice slips the 2-signal gate (no dup
    lines, every bigram count 2 — top-2-gram mass ~0.08 < 0.18) but
    fails the full suite's dup-5..10-gram coverage at 1.0."""
    inp = str(tmp_path / "in.parquet")
    loop = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi " * 2).strip()
    prose = ("the quick brown fox jumps over the lazy dog while a calm "
             "river flows past the old stone bridge in the morning sun")
    spark.createDataFrame(
        [(f"https://cc.synth.local/app{i}/salary_slip/{i}.png", None,
          None, loop if i % 2 == 0 else prose, "en", None)
         for i in range(6)], schema=schemas.INPUT_SCHEMA).write.parquet(inp)

    table = str(tmp_path / "table")
    r = job.main(["--input", inp, "--table", table, "--partitions", "2",
                  "--quality-filter", str(tmp_path / "qf2")], spark=spark)
    assert r["quality_filter"]["kept"] == 6  # 2-signal gate: all pass

    r = job.main(["--input", inp, "--table", str(tmp_path / "table2"),
                  "--partitions", "2", "--gopher-full",
                  "--quality-filter", str(tmp_path / "qf")], spark=spark)
    assert r["quality_filter"] == {"docs": 6, "kept": 3, "dropped": 3}
    sig = spark.read.parquet(str(tmp_path / "qf") + "/signals")
    bad = sig.filter("NOT keep").collect()
    assert len(bad) == 3
    assert all(row["dup_5gram_char_frac"] == 1.0 for row in bad)


def test_job_full_curation_chain(spark, tmp_path):
    """The whole curation chain in one run: extraction -> near-dup
    pairs -> resolve/apply -> Gopher quality filter, every stage's
    counters in the one summary. The snapshot commits PARTITIONED
    (--partition-by doc_type), so every downstream stage reads through
    the spec-aware union path."""
    import hashlib

    inp = str(tmp_path / "in.parquet")
    rows = []
    i = 0
    # Three 2-member near-dup cliques (one survivor each)...
    for g in range(3):
        body = " ".join(hashlib.md5(f"cc{g}:{j}".encode()).hexdigest()
                        for j in range(6))
        for v in range(2):
            rows.append((f"https://cc.synth.local/app{i}/salary_slip/"
                         f"{i}.png", None, None,
                         body + f" variant {v}", "en", None))
            i += 1
    # ...plus two repetitive-spam docs the quality gate drops (their
    # distinct intro lines hold their mutual Jaccard at 0.6, under the
    # 0.7 near-dup threshold — dedup leaves them for the quality gate)...
    for _ in range(2):
        rows.append((f"https://cc.synth.local/app{i}/salary_slip/"
                     f"{i}.png", None, None,
                     f"intro {i}" + "\nrepeated boiler line" * 3,
                     "en", None))
        i += 1
    # ...and two clean distinct docs that survive everything.
    for g in range(2):
        body = " ".join(hashlib.md5(f"ok{g}:{j}".encode()).hexdigest()
                        for j in range(6))
        rows.append((f"https://cc.synth.local/app{i}/salary_slip/"
                     f"{i}.png", None, None, body, "en", None))
        i += 1
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA)\
        .write.parquet(inp)

    r = job.main(["--input", inp, "--table", str(tmp_path / "t"),
                  "--partitions", "2", "--partition-by", "doc_type",
                  "--neardup", str(tmp_path / "nd"),
                  "--dedup-apply", str(tmp_path / "da"),
                  "--quality-filter", str(tmp_path / "qf")],
                 spark=spark)
    assert snapshot.SnapshotTable(str(tmp_path / "t")).partition_specs() \
        == {"run-000001": ["doc_type"]}
    assert r["processed"] == 10
    assert r["neardup"]["pairs"] == 3
    assert r["dedup_apply"] == {"docs": 10, "survivors": 7,
                                "dropped": 3, "clusters": 7}
    assert r["quality_filter"] == {"docs": 10, "kept": 8, "dropped": 2}


def test_job_line_dedup_cleans_corpus(spark, tmp_path):
    """--line-dedup strips the line shared by every document and
    reports the removal counters in the summary."""
    import hashlib

    inp = str(tmp_path / "in.parquet")
    banner = "This website uses cookies to continue browsing"
    rows = []
    for i in range(8):
        body = " ".join(hashlib.md5(f"ld{i}:{j}".encode()).hexdigest()
                        for j in range(4))
        rows.append((f"https://cc.synth.local/app{i}/salary_slip/"
                     f"{i}.png", None, None, f"{banner}\n{body}",
                     "en", None))
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA)\
        .write.parquet(inp)

    ld = str(tmp_path / "ld")
    r = job.main(["--input", inp, "--table", str(tmp_path / "t"),
                  "--partitions", "2", "--line-dedup", ld], spark=spark)
    assert r["line_dedup"] == {"lines_removed": 8, "docs_touched": 8,
                               "n_hot_lines": 1}
    cleaned = spark.read.parquet(f"{ld}/cleaned")
    assert cleaned.count() == 8
    assert cleaned.filter(
        cleaned.extracted_text.contains("cookies")).count() == 0
    assert all(row["n_lines_removed"] == 1 for row in cleaned.collect())
    # The cleaned corpus keeps the committed row's FULL schema (same
    # contract as --quality-filter's filtered output) so further
    # curation stages can chain over {dir}/cleaned.
    assert {"url", "extracted_text", "n_lines_removed"} <= set(cleaned.columns)
    assert len(cleaned.columns) > 3, cleaned.columns


def test_job_via_spark_submit(tmp_path):
    """The actual deployment path: package ocr_spark into a zip, launch
    a fresh JVM via spark-submit --py-files, run the job end-to-end."""
    pkg = tmp_path / "ocr_spark.zip"
    with zipfile.ZipFile(pkg, "w") as z:
        for root, _dirs, files in os.walk(os.path.join(REPO, "ocr_spark")):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))

    spark_submit = os.path.join(
        os.path.dirname(sys.executable), "spark-submit")
    if not os.path.exists(spark_submit):
        import pyspark
        spark_submit = os.path.join(
            os.path.dirname(pyspark.__file__), "bin", "spark-submit")

    table = str(tmp_path / "table")
    p = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--py-files", str(pkg),
         os.path.join(REPO, "ocr_spark", "job.py"),
         "--synth", "64", "--table", table, "--partitions", "4"],
        capture_output=True, text=True, timeout=300)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    assert lines, f"no summary line.\nstdout:{p.stdout[-2000:]}\nstderr:{p.stderr[-2000:]}"
    summary = json.loads(lines[-1])
    assert summary["processed"] == 64
    assert os.path.isdir(os.path.join(table, "snapshots"))


def test_job_neardup_method_switch(spark, tmp_path):
    """--neardup-method routes the same pairs/resolve/apply tail
    through SimHash or n-gram Jaccard instead of MinHash: an exact
    duplicate pair surfaces under every generator."""
    import hashlib

    body = " ".join(hashlib.md5(f"nm:{j}".encode()).hexdigest()
                    for j in range(6))
    other = " ".join(hashlib.md5(f"xx:{j}".encode()).hexdigest()
                     for j in range(6))
    rows = [(f"https://cc.synth.local/app{i}/salary_slip/{i}.png", None,
             None, t, "en", None)
            for i, t in enumerate([body, body, other])]
    for method in ("simhash", "ngram"):
        inp = str(tmp_path / f"in_{method}.parquet")
        spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA)\
            .write.parquet(inp)
        r = job.main(["--input", inp,
                      "--table", str(tmp_path / f"t_{method}"),
                      "--partitions", "2",
                      "--neardup", str(tmp_path / f"nd_{method}"),
                      "--neardup-method", method,
                      "--dedup-apply", str(tmp_path / f"da_{method}")],
                     spark=spark)
        assert r["neardup"]["method"] == method
        assert r["neardup"]["pairs"] == 1, (method, r["neardup"])
        assert r["dedup_apply"]["survivors"] == 2, (method, r)


def test_job_lang_filter_keeps_target_languages(spark, tmp_path):
    """--lang-filter drops the French and Cyrillic pages, keeps the
    English ones, and persists per-url signals next to the filtered
    corpus."""
    en = ("the quick brown fox jumps over the lazy dog and the calm "
          "river flows to the sea with all of the morning light")
    fr = ("le chat noir et la souris grise sont dans le jardin de la "
          "maison avec les fleurs et les arbres du printemps")
    ru = "северный ветер дует над широкой рекой и тихим лесом каждое утро"
    rows = [(f"https://cc.synth.local/app{i}/salary_slip/{i}.png", None,
             None, t, "en", None)
            for i, t in enumerate([en, en, fr, ru])]
    inp = str(tmp_path / "in.parquet")
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA)\
        .write.parquet(inp)
    lf = str(tmp_path / "lf")
    r = job.main(["--input", inp, "--table", str(tmp_path / "t"),
                  "--partitions", "2", "--lang-filter", lf], spark=spark)
    assert r["lang_filter"] == {"keep": ["en"], "docs": 4, "kept": 2,
                                "dropped": 2}
    assert spark.read.parquet(f"{lf}/filtered").count() == 2
    sig = {row["lang_guess"]
           for row in spark.read.parquet(f"{lf}/signals").collect()}
    assert "en" in sig and "ru" in sig
    # Multi-language keep widens the gate.
    lf2 = str(tmp_path / "lf2")
    r2 = job.main(["--input", inp, "--table", str(tmp_path / "t2"),
                   "--partitions", "2", "--lang-filter", lf2,
                   "--lang-keep", "en, fr"], spark=spark)
    assert r2["lang_filter"]["kept"] == 3


def test_job_neardup_embedding_method(spark, tmp_path):
    """--neardup-method embedding joins a (url, embedding) sidecar
    table to the committed urls and feeds cosine near-dup pairs into
    the same resolve/apply tail; omitting --embeddings is a usage
    error, and so is --embeddings with a method that reads no vectors."""
    import pytest

    urls = [f"https://cc.synth.local/app{i}/salary_slip/{i}.png"
            for i in range(3)]
    rows = [(u, None, None, f"doc body {i}", "en", None)
            for i, u in enumerate(urls)]
    inp = str(tmp_path / "in.parquet")
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA)\
        .write.parquet(inp)
    # urls 0 and 1 nearly parallel (cos > 0.95); url 2 orthogonal.
    emb = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        [(urls[0], [1.0, 0.0, 0.01]), (urls[1], [1.0, 0.02, 0.0]),
         (urls[2], [0.0, 1.0, 0.0]),
         ("https://not-committed.example/x", [1.0, 0.0, 0.0])],
        ["url", "embedding"]).write.parquet(emb)

    nd, da = str(tmp_path / "nd"), str(tmp_path / "da")
    r = job.main(["--input", inp, "--table", str(tmp_path / "t"),
                  "--partitions", "2",
                  "--neardup", nd, "--neardup-method", "embedding",
                  "--embeddings", emb, "--dedup-apply", da], spark=spark)
    assert r["neardup"]["method"] == "embedding"
    assert r["neardup"]["pairs"] == 1
    # Coverage is never silent: all 3 committed docs had vectors.
    assert r["neardup"]["docs_with_embeddings"] == 3
    assert r["neardup"]["docs_missing_embeddings"] == 0
    got = spark.read.parquet(f"{nd}/pairs").first()
    assert {got["id_a"], got["id_b"]} == {urls[0], urls[1]}
    # The uncommitted url never pairs (semi-join gate).
    assert r["dedup_apply"] == {"docs": 3, "survivors": 2,
                                "dropped": 1, "clusters": 2}

    with pytest.raises(SystemExit):
        job._parse(["--synth", "4", "--table", str(tmp_path / "t2"),
                    "--neardup", nd, "--neardup-method", "embedding"])
    for method in ([], ["--neardup-method", "ngram"]):
        with pytest.raises(SystemExit):
            job._parse(["--synth", "4", "--table", str(tmp_path / "t2"),
                        "--neardup", nd, *method, "--embeddings", emb])


def test_job_neardup_semantic_method(spark, tmp_path):
    """--neardup-method semantic clusters the embedding sidecar with
    learned k-means cells (SemDeDup) and feeds within-cell cosine
    pairs into the same resolve/apply tail."""
    # Urls zero-padded so lexicographic id order (the deterministic
    # centroid seed order) is numeric.
    urls = [f"https://cc.synth.local/app{i:02d}/salary_slip/{i}.png"
            for i in range(18)]
    rows = [(u, None, None, f"doc body {i}", "en", None)
            for i, u in enumerate(urls)]
    inp = str(tmp_path / "in.parquet")
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA)\
        .write.parquet(inp)
    # Docs 0..15 on orthogonal axes (one per seed cell at the default
    # nlist=16); docs 16 and 17 are near-copies of doc 0, so the
    # learned quantizer puts all three in one cell.
    def basis(i):
        v = [0.0] * 16
        v[i] = 1.0
        return v
    vecs = [basis(i) for i in range(16)]
    for eps in (0.011, 0.013):
        v = basis(0)
        v[5] = eps
        vecs.append(v)
    emb = str(tmp_path / "emb.parquet")
    spark.createDataFrame(list(zip(urls, vecs)), ["url", "embedding"])\
        .write.parquet(emb)

    nd, da = str(tmp_path / "nd"), str(tmp_path / "da")
    r = job.main(["--input", inp, "--table", str(tmp_path / "t"),
                  "--partitions", "2",
                  "--neardup", nd, "--neardup-method", "semantic",
                  "--embeddings", emb, "--dedup-apply", da], spark=spark)
    assert r["neardup"]["method"] == "semantic"
    assert r["neardup"]["pairs"] == 3  # (0,16), (0,17), (16,17)
    assert r["neardup"]["docs_with_embeddings"] == 18
    got = {frozenset((p["id_a"], p["id_b"]))
           for p in spark.read.parquet(f"{nd}/pairs").collect()}
    assert got == {frozenset((urls[0], urls[16])),
                   frozenset((urls[0], urls[17])),
                   frozenset((urls[16], urls[17]))}
    assert r["dedup_apply"] == {"docs": 18, "survivors": 16,
                                "dropped": 2, "clusters": 16}

    with pytest.raises(SystemExit):
        job._parse(["--synth", "4", "--table", str(tmp_path / "t2"),
                    "--neardup", nd, "--neardup-method", "semantic"])


def test_job_flag_dependency_and_lang_keep_validation(tmp_path):
    """Unknown --lang-keep codes are usage errors at parse time, not
    silent corpus deletions."""
    import pytest

    t = str(tmp_path / "t")
    with pytest.raises(SystemExit):  # unknown language code
        job._parse(["--synth", "4", "--table", t,
                    "--lang-filter", str(tmp_path / "lf"),
                    "--lang-keep", "english"])
    with pytest.raises(SystemExit):  # empty gate would drop everything
        job._parse(["--synth", "4", "--table", t,
                    "--lang-filter", str(tmp_path / "lf"),
                    "--lang-keep", " , "])
    args = job._parse(["--synth", "4", "--table", t,
                       "--lang-filter", str(tmp_path / "lf"),
                       "--lang-keep", "en,ru"])
    assert args.lang_keep == "en,ru"


def test_job_maintenance_lifecycle(spark, tmp_path):
    """--rollback / --compact / --expire-keep run the catalog
    maintenance story end to end through the CLI: a bad run is undone
    and re-extracted, the accrued micro-run dirs fold into one, and
    expiry reclaims the dead history."""
    inp_a = str(tmp_path / "a.parquet")
    inp_b = str(tmp_path / "b.parquet")
    rows = synth.generate_rows(32)
    spark.createDataFrame(rows[:16], schema=schemas.INPUT_SCHEMA) \
        .repartition(4).write.parquet(inp_a)
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA) \
        .repartition(4).write.parquet(inp_b)

    table = str(tmp_path / "table")
    r1 = job.main(["--input", inp_a, "--table", table,
                   "--partitions", "4"], spark=spark)
    assert r1["committed_rows"] == 16
    r2 = job.main(["--input", inp_b, "--table", table,
                   "--partitions", "4"], spark=spark)
    assert r2["processed"] == 16  # only the second half

    # Maintenance-only invocation: roll the "bad" second run back and
    # re-ingest it in the same pass.
    r3 = job.main(["--rollback", "1", "--input", inp_b, "--table", table,
                   "--partitions", "4"], spark=spark)
    assert r3["rollback"]["to"] == 1
    assert r3["processed"] == 16  # the rolled-back urls re-extract
    assert r3["committed_rows"] == 32

    # Compact + expire, no input source at all.
    r4 = job.main(["--table", table, "--compact", "--compact-partitions",
                   "2", "--expire-keep", "1"], spark=spark)
    assert "run_id" not in r4  # no ingest happened
    assert r4["compact"]["dirs_before"] >= 2
    assert r4["compact"]["rows"] == 32
    assert r4["expire"]["removed_manifests"] >= 1
    tbl = snapshot.SnapshotTable(table)
    assert tbl.read(spark).count() == 32
    assert len(tbl.current_snapshot()["data_dirs"]) == 1

    # Resume across the whole lifecycle: everything stays committed.
    r5 = job.main(["--input", inp_b, "--table", table,
                   "--partitions", "4"], spark=spark)
    assert r5["processed"] == 0

    # Compacting the already-compacted table is a reported no-op.
    r6 = job.main(["--table", table, "--compact"], spark=spark)
    assert r6["compact"] == {"skipped": "already one data dir"}


def test_job_maintenance_flag_validation(tmp_path):
    import pytest

    t = str(tmp_path / "t")
    with pytest.raises(SystemExit):  # no source and no maintenance op
        job._parse(["--table", t])
    with pytest.raises(SystemExit):  # would drop the head snapshot
        job._parse(["--table", t, "--expire-keep", "0"])
    args = job._parse(["--table", t, "--compact"])
    assert args.compact and args.input is None


def test_job_pii_scrub_redacts_corpus(spark, tmp_path):
    """--pii-scrub redacts emails/IPs/phones with Dolma-style tokens
    and reports redaction totals in the summary."""
    inp = str(tmp_path / "in.parquet")
    rows = []
    for i in range(6):
        body = (f"Document {i} body. Write to user{i}@example.org or "
                f"call (555) 123-4567 from 10.0.0.{i} please.")
        rows.append((f"https://cc.synth.local/app{i}/salary_slip/"
                     f"{i}.png", None, None, body, "en", None))
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA)\
        .write.parquet(inp)

    ps = str(tmp_path / "ps")
    r = job.main(["--input", inp, "--table", str(tmp_path / "t"),
                  "--partitions", "2", "--pii-scrub", ps], spark=spark)
    assert r["pii_scrub"] == {"pii_redacted": 18, "docs_touched": 6,
                              "docs": 6}
    back = spark.read.parquet(f"{ps}/scrubbed")
    txts = [row["extracted_text"] for row in back.collect()]
    assert all("|||EMAIL_ADDRESS|||" in t and "|||IP_ADDRESS|||" in t
               and "|||PHONE_NUMBER|||" in t for t in txts)
    assert not any("@example.org" in t or "10.0.0." in t for t in txts)
    # Chainable schema: full committed row + the counter.
    assert {"url", "extracted_text", "n_pii_redacted"} <= set(back.columns)


def test_job_decontam_drops_benchmark_overlap(spark, tmp_path):
    """--decontam removes documents sharing a 13-gram with the
    --benchmark corpus and persists explainable hit counts."""
    sent = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliett kilo lima mike november oscar papa")
    inp = str(tmp_path / "in.parquet")
    rows = []
    for i in range(6):
        body = (f"doc {i} leaked text {sent} end of page" if i % 3 == 0
                else f"doc {i} original body with plenty of its own "
                     f"words repeated over and over again number {i}")
        rows.append((f"https://cc.synth.local/app{i}/salary_slip/"
                     f"{i}.png", None, None, body, "en", None))
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA)\
        .write.parquet(inp)
    bench = str(tmp_path / "bench.parquet")
    spark.createDataFrame([(sent,)], ["text"]).write.parquet(bench)

    dc = str(tmp_path / "dc")
    r = job.main(["--input", inp, "--table", str(tmp_path / "t"),
                  "--partitions", "2", "--decontam", dc,
                  "--benchmark", bench], spark=spark)
    assert r["decontam"] == {"ngram": 13, "min_hits": 1, "docs": 6,
                             "kept": 4, "dropped": 2, "contaminated": 2}
    hits = {row["url"]: row["hit_count"] for row in
            spark.read.parquet(f"{dc}/hits").collect()}
    assert set(hits) == {f"https://cc.synth.local/app{i}/salary_slip/"
                         f"{i}.png" for i in (0, 3)}
    # 16 benchmark tokens -> 4 distinct 13-grams, all present.
    assert all(v == 4 for v in hits.values())
    kept = spark.read.parquet(f"{dc}/filtered")
    assert kept.count() == 4
    assert not any("app0/" in row["url"] or "app3/" in row["url"]
                   for row in kept.collect())


def test_job_decontam_flag_validation(tmp_path):
    """--decontam without a benchmark is a usage error, and so is an
    out-of-range shingle width."""
    base = ["--synth", "4", "--table", str(tmp_path / "t")]
    for extra in (["--decontam", str(tmp_path / "dc")],
                  ["--decontam", str(tmp_path / "dc"),
                   "--benchmark", "x.parquet", "--decontam-ngram", "1"]):
        with pytest.raises(SystemExit):
            job.main(base + extra)


def test_job_substr_dedup_drops_recombinations(spark, tmp_path):
    """--substr-dedup drops documents whose token spans are mostly
    owned by earlier (smaller-url) documents, keep-first."""
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"
    bodies = {
        0: base,                                   # owner of every span
        1: "prefix words here " + base,            # 8/11 spans owned by 0
        2: "totally original content one two three four five six seven",
        3: "another unique page body eight nine ten eleven twelve thirteen",
        4: base,                                   # verbatim copy
    }
    inp = str(tmp_path / "in.parquet")
    rows = [(f"https://cc.synth.local/app{i}/salary_slip/{i}.png",
             None, None, bodies[i], "en", None) for i in range(5)]
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA)\
        .write.parquet(inp)

    sd = str(tmp_path / "sd")
    r = job.main(["--input", inp, "--table", str(tmp_path / "t"),
                  "--partitions", "2", "--substr-dedup", sd,
                  "--substr-ngram", "5", "--substr-max-frac", "0.5",
                  "--substr-sample", "1"],
                 spark=spark)
    assert r["substr_dedup"] == {"ngram": 5, "max_frac": 0.5,
                                 "sample_mod": 1, "docs": 5,
                                 "kept": 3, "dropped": 2}
    stats = {row["url"]: row["dup_fraction"] for row in
             spark.read.parquet(f"{sd}/spans").collect()}
    assert stats[rows[0][0]] == 0.0
    assert stats[rows[1][0]] == pytest.approx(8 / 11, abs=1e-6)
    assert stats[rows[4][0]] == 1.0
    kept = sorted(row["url"] for row in
                  spark.read.parquet(f"{sd}/filtered").collect())
    assert kept == [rows[0][0], rows[2][0], rows[3][0]]


def test_job_substr_dedup_flag_validation(tmp_path):
    base = ["--synth", "4", "--table", str(tmp_path / "t")]
    for extra in (["--substr-dedup", str(tmp_path / "sd"),
                   "--substr-ngram", "1"],
                  ["--substr-dedup", str(tmp_path / "sd"),
                   "--substr-max-frac", "1.5"],
                  ["--substr-dedup", str(tmp_path / "sd"),
                   "--substr-sample", "0"]):
        with pytest.raises(SystemExit):
            job.main(base + extra)


def test_job_substr_dedup_default_sampling_catches_copies(spark, tmp_path):
    """The DEFAULT --substr-sample 8 (estimate mode — the exact
    default was a wall-time trap at realistic scale) still drops a
    verbatim copy: content-defined anchors select the SAME spans in
    both copies, and over a 200-token body the chance every anchor
    hashes non-zero mod 8 is ~(7/8)^~190 — and deterministic for this
    fixed text."""
    body = " ".join(f"tok{i}word" for i in range(200))
    other = " ".join(f"unrelated{i}body" for i in range(200))
    inp = str(tmp_path / "in.parquet")
    rows = [(f"https://cc.synth.local/app{i}/salary_slip/{i}.png",
             None, None, t, "en", None)
            for i, t in enumerate([body, other, body])]
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA)\
        .write.parquet(inp)
    sd = str(tmp_path / "sd")
    r = job.main(["--input", inp, "--table", str(tmp_path / "t"),
                  "--partitions", "2", "--substr-dedup", sd],
                 spark=spark)
    assert r["substr_dedup"]["sample_mod"] == 8
    assert r["substr_dedup"]["dropped"] == 1
    kept = sorted(row["url"] for row in
                  spark.read.parquet(f"{sd}/filtered").collect())
    assert kept == [rows[0][0], rows[1][0]]


def test_job_clf_filter_keeps_quality_docs(spark, tmp_path):
    """--clf-filter trains the NB model on the labeled sidecars and
    keeps only above-threshold documents."""
    nat = ["the quick brown fox jumps over the lazy dog every day",
           "a stitch in time saves nine when you least expect it",
           "all that glitters is not gold said the wise old friend"]
    junk = ["zzxq vrtk plmw qqzz xkcd vvbn mmzx ppqr ttyy wwff",
            "qqq zzz xxx vvv kkk mmm ppp ttt www fff ggg hhh",
            "xz zv vk km mp pt tw wf fg gh hz zx qq zz xx vv"]
    inp = str(tmp_path / "in.parquet")
    rows = [(f"https://cc.synth.local/app{i}/salary_slip/{i}.png",
             None, None, body, "en", None)
            for i, body in enumerate(
                ["the lazy old fox said it is gold not time",
                 "zzxq kkk vvv xz qq zz mmzx ttyy wwff ppp"])]
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA)\
        .write.parquet(inp)
    posp, negp = str(tmp_path / "pos.parquet"), str(tmp_path / "neg.parquet")
    spark.createDataFrame([(t,) for t in nat], ["text"]).write.parquet(posp)
    spark.createDataFrame([(t,) for t in junk], ["text"]).write.parquet(negp)

    cf = str(tmp_path / "cf")
    r = job.main(["--input", inp, "--table", str(tmp_path / "t"),
                  "--partitions", "2", "--clf-filter", cf,
                  "--clf-pos", posp, "--clf-neg", negp], spark=spark)
    assert r["clf_filter"] == {"threshold": 0.0, "docs": 2,
                               "kept": 1, "dropped": 1}
    scores = {row["url"]: row["mean_llr"] for row in
              spark.read.parquet(f"{cf}/scores").collect()}
    assert scores[rows[0][0]] > 0 > scores[rows[1][0]]
    kept = [row["url"] for row in
            spark.read.parquet(f"{cf}/filtered").collect()]
    assert kept == [rows[0][0]]


def test_job_clf_filter_flag_validation(tmp_path):
    base = ["--synth", "4", "--table", str(tmp_path / "t")]
    for extra in (["--clf-filter", str(tmp_path / "cf")],
                  ["--clf-filter", str(tmp_path / "cf"),
                   "--clf-pos", "p.parquet"]):
        with pytest.raises(SystemExit):
            job.main(base + extra)


def test_job_clean_text_normalizes_corpus(spark, tmp_path):
    """--clean-text folds CRLF, strips controls, NFC-normalizes, and
    collapses whitespace, reporting character deltas."""
    inp = str(tmp_path / "in.parquet")
    rows = []
    for i in range(4):
        body = f"  Café line {i}.\r\nnext\x07  line   here \t "
        rows.append((f"https://cc.synth.local/app{i}/salary_slip/"
                     f"{i}.png", None, None, body, "en", None))
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA)\
        .write.parquet(inp)

    ct = str(tmp_path / "ct")
    r = job.main(["--input", inp, "--table", str(tmp_path / "t"),
                  "--partitions", "2", "--clean-text", ct], spark=spark)
    assert r["clean_text"]["docs"] == 4
    assert r["clean_text"]["docs_touched"] == 4
    assert r["clean_text"]["chars_removed"] > 0
    back = spark.read.parquet(f"{ct}/cleaned")
    for row in back.collect():
        i = row["url"].split("/")[3].removeprefix("app")
        assert row["extracted_text"] == f"Café line {i}.\nnext line here"


def test_job_c4_filter_gates_and_rewrites(spark, tmp_path):
    """--c4-filter persists signals + the filtered corpus with only the
    retained lines; the bad-word gate takes --c4-bad-words."""
    inp = str(tmp_path / "in.parquet")
    good = "\n".join(f"This is sentence number {j} of the page."
                     for j in range(6))
    bodies = [good + "\njunk line without punctuation",
              good + "\nSome lorem ipsum filler text here.",
              good + "\nThis page says zblockedz sadly.",
              "Too short a page."]
    rows = [(f"https://cc.synth.local/app{i}/salary_slip/{i}.png",
             None, None, b, "en", None) for i, b in enumerate(bodies)]
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA)\
        .write.parquet(inp)

    c4 = str(tmp_path / "c4")
    r = job.main(["--input", inp, "--table", str(tmp_path / "t"),
                  "--partitions", "2", "--c4-filter", c4,
                  "--c4-bad-words", "zblockedz"], spark=spark)
    assert r["c4_filter"] == {"docs": 4, "kept": 1, "dropped": 3,
                              "bad_words": 1}
    kept = spark.read.parquet(f"{c4}/filtered").collect()
    assert len(kept) == 1
    assert kept[0]["extracted_text"] == good  # junk line rewritten out
    signals = spark.read.parquet(f"{c4}/signals")
    assert signals.count() == 4
    assert signals.filter("has_bad_word").count() == 1
    assert "kept_text" not in signals.columns


def test_job_lm_score_flags_noise(spark, tmp_path):
    """--lm-score with a clean --lm-ref corpus flags the one noise
    document; --lm-max-bits persists the filtered corpus."""
    inp = str(tmp_path / "in.parquet")
    sent = ("the quick brown fox jumps over the lazy dog near the "
            "quiet garden where the dog rests again")
    ref = str(tmp_path / "ref.parquet")
    spark.createDataFrame(
        [(i, sent) for i in range(8)], ["doc_id", "text"])\
        .write.parquet(ref)
    bodies = [sent, sent.replace("fox", "cat"), sent.replace("dog", "owl"),
              "xq zvkj qpwxo vnrml zzkty qqqwj pzvxm rrklt wggh"]
    rows = [(f"https://cc.synth.local/app{i}/salary_slip/{i}.png",
             None, None, b, "en", None) for i, b in enumerate(bodies)]
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA)\
        .write.parquet(inp)

    lm = str(tmp_path / "lm")
    r = job.main(["--input", inp, "--table", str(tmp_path / "t"),
                  "--partitions", "2", "--lm-score", lm,
                  "--lm-ref", ref, "--lm-max-bits", "4.0"], spark=spark)
    assert r["lm_score"]["docs"] == 4
    assert r["lm_score"]["vocab"] > 10
    signals = {row["url"].split("/")[3]: row["bits_per_char"]
               for row in spark.read.parquet(f"{lm}/signals").collect()}
    assert signals["app3"] > max(signals[f"app{i}"] for i in range(3)) + 1
    kept = spark.read.parquet(f"{lm}/filtered")
    assert kept.count() == 3
    assert not any("app3" in row["url"] for row in kept.collect())


def test_job_lm_flags_require_lm_score(tmp_path):
    with pytest.raises(SystemExit):
        job._parse(["--synth", "4", "--table", str(tmp_path / "t"),
                    "--lm-max-bits", "5"])


def test_job_token_sample_cuts_budgeted_corpus(spark, tmp_path):
    """--token-sample persists a deterministic subcorpus whose token
    mass crosses the budget by at most one document."""
    inp = str(tmp_path / "in.parquet")
    rows = []
    for i in range(12):
        body = " ".join(f"w{i}x{j}" for j in range(5))  # 5 tokens each
        rows.append((f"https://cc.synth.local/app{i}/salary_slip/"
                     f"{i}.png", None, None, body, "en", None))
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA)\
        .write.parquet(inp)

    ts = str(tmp_path / "ts")
    r = job.main(["--input", inp, "--table", str(tmp_path / "t"),
                  "--partitions", "2", "--token-sample", ts,
                  "--token-budget", "23"], spark=spark)
    # 5 tokens/doc: before-mass < 23 keeps exactly 5 docs (25 tokens).
    assert r["token_sample"]["kept_docs"] == 5
    assert r["token_sample"]["kept_tokens"] == 25
    assert r["token_sample"]["total_docs"] == 12
    sample = spark.read.parquet(f"{ts}/sample")
    assert sample.count() == 5
    assert "extracted_text" in sample.columns
    # Same command, same sample (determinism across invocations).
    r2 = job.main(["--input", inp, "--table", str(tmp_path / "t"),
                   "--partitions", "2", "--token-sample", ts,
                   "--token-budget", "23"], spark=spark)
    assert r2["token_sample"] == r["token_sample"]


def test_job_token_sample_flag_validation(tmp_path):
    with pytest.raises(SystemExit):
        job._parse(["--synth", "4", "--table", str(tmp_path / "t"),
                    "--token-sample", "d"])


def test_job_curate_funnel(spark, tmp_path):
    """--curate runs the one-shot funnel over the committed snapshot:
    decisions/survivors/funnel persist, counts are monotone, and the
    summary carries the stage table."""
    from tests.test_curate import RU, good

    urls = [f"https://cc.synth.local/p{i:02d}/webpage/doc.txt"
            for i in range(8)]
    texts = [good(0), good(1), good(2),
             RU,                      # lang victim
             good(4), good(4),        # exact-dup pair (idx 4 survives)
             good(6) + "\nvar f = function() { return 1; };",  # c4
             good(7)]
    rows = [(u, None, None, t, "en", None) for u, t in zip(urls, texts)]
    inp = str(tmp_path / "in.parquet")
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA)\
        .write.parquet(inp)

    cur = str(tmp_path / "curate")
    r = job.main(["--input", inp, "--table", str(tmp_path / "t"),
                  "--partitions", "2", "--curate", cur], spark=spark)
    assert r["curate"]["input"]["in"] == 8
    assert r["curate"]["lang"]["out"] == 7
    assert r["curate"]["c4"]["out"] == 6
    assert r["curate"]["exact_dedup"]["out"] == 5
    assert r["curate"]["neardup"]["out"] == 5
    assert "decontam" not in r["curate"]

    surv = {s["url"] for s in
            spark.read.parquet(f"{cur}/survivors").collect()}
    assert surv == {urls[0], urls[1], urls[2], urls[4], urls[7]}
    dec = spark.read.parquet(f"{cur}/decisions")
    assert dec.count() == 8
    # the funnel table on disk is consistent with the decisions table
    fun = {f["stage"]: f for f in
           spark.read.parquet(f"{cur}/funnel").collect()}
    assert fun["neardup"]["docs_out"] == len(surv)


def test_job_shard_stage(spark, tmp_path):
    """--shard persists Hive-partitioned fixed-token shards plus a
    manifest whose totals account for every committed document."""
    from pyspark.sql import functions as F
    from ocr_spark.operators.textstats import token_count

    inp = str(tmp_path / "in.parquet")
    spark.createDataFrame(
        [(f"https://cc.synth.local/app{i}/salary_slip/{i}.png", None,
          None, " ".join(f"w{i}x{j}" for j in range(1 + i % 9)), "en",
          None) for i in range(24)],
        schema=schemas.INPUT_SCHEMA).write.parquet(inp)
    table = str(tmp_path / "table")
    out = str(tmp_path / "sh")
    r = job.main(["--input", inp, "--table", table, "--partitions", "2",
                  "--shard", out, "--shard-tokens", "40"], spark=spark)
    assert r["shard"]["total_docs"] == 24
    back = spark.read.parquet(f"{out}/shards")
    assert back.count() == 24
    # Manifest totals == the committed corpus's own token mass.
    total = back.select(
        F.sum(token_count(F.col("extracted_text")))).first()[0]
    assert r["shard"]["total_tokens"] == total
    assert r["shard"]["n_shards"] == back.select("shard").distinct().count()


def test_job_outlinks_persists_link_layer(spark, tmp_path):
    """--outlinks extracts the WAT-style link table from the INPUT
    pages' html, aggregates the host graph (nofollow + self-edges
    out), and persists PageRank host centrality, with counters in the
    summary."""
    inp = str(tmp_path / "in.parquet")
    rows = []
    for i in range(6):
        page = (f'<a href="https://h{(i + 1) % 3}.org/x">next</a>'
                f'<a href="/self">self page</a>'
                f'<a href="https://spam.org/" rel="nofollow">ad</a>')
        rows.append((f"https://h{i % 3}.org/app{i}/salary_slip/{i}.png",
                     None, page.encode(), f"Document {i} body text.",
                     "en", None))
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA)\
        .write.parquet(inp)

    ol = str(tmp_path / "ol")
    r = job.main(["--input", inp, "--table", str(tmp_path / "t"),
                  "--partitions", "2", "--outlinks", ol,
                  "--host-rank-iters", "3"], spark=spark)
    assert r["outlinks"] == {"links": 18, "nofollow_links": 6,
                             "host_edges": 3, "hosts_ranked": 3}

    links = spark.read.parquet(f"{ol}/links")
    assert {"src_url", "dst_url", "anchor_text", "rel",
            "nofollow"} <= set(links.columns)
    # /self resolved against the page host -> self-edge, removed.
    edges = {(e["src_host"], e["dst_host"]): e["n_links"]
             for e in spark.read.parquet(f"{ol}/host_edges").collect()}
    assert edges == {("h0.org", "h1.org"): 2, ("h1.org", "h2.org"): 2,
                     ("h2.org", "h0.org"): 2}
    # The 3-cycle is symmetric: every host ranks exactly 1/3.
    for row in spark.read.parquet(f"{ol}/host_rank").collect():
        assert row["rank"] == pytest.approx(1 / 3, abs=1e-9)


def test_job_outlinks_flag_validation(tmp_path):
    """--outlinks without a source and a zero --host-rank-iters are
    parse-time usage errors."""
    with pytest.raises(SystemExit):
        job._parse(["--compact", "--table", str(tmp_path / "t"),
                    "--outlinks", str(tmp_path / "ol")])
    with pytest.raises(SystemExit):
        job._parse(["--synth", "4", "--table", str(tmp_path / "t"),
                    "--outlinks", str(tmp_path / "ol"),
                    "--host-rank-iters", "0"])


def test_job_warm_pass_compiles_no_new_classes(spark, tmp_path):
    """A repeated ingest -> curate -> WET pass in a warm session finds
    all its generated classes in the codegen cache. A cache smaller than
    the job's class working set recompiled ~130 classes on every pass.
    AQE may plan a broadcast join into a different whole-stage shape
    depending on which side's stage finishes first, and each first-seen
    shape compiles once, so the check allows a few passes to meet one
    that compiles nothing."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    inp = str(tmp_path / "in.parquet")
    spark.createDataFrame(synth.generate_rows(24, profile="cc"),
                          schema=schemas.INPUT_SCHEMA) \
        .repartition(2).write.parquet(inp)

    def compiled(d):
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        job.main(["--input", inp, "--table", f"{d}/t", "--partitions", "2",
                  "--curate", f"{d}/curate", "--write-wet", f"{d}/wet"],
                 spark=spark)
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    compiled(tmp_path / "warm")
    counts = []
    while len(counts) < 3 and 0 not in counts:
        counts.append(compiled(tmp_path / f"p{len(counts)}"))
    assert 0 in counts, counts


def test_job_write_wet_round_trip(spark, tmp_path):
    inp = str(tmp_path / "in.parquet")
    rows = synth.generate_rows(24, profile="cc")
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA) \
        .repartition(2).write.parquet(inp)
    table = str(tmp_path / "table")
    wet = str(tmp_path / "wet")

    r = job.main(["--input", inp, "--table", table, "--partitions", "2",
                  "--write-wet", wet, "--wet-segments", "3"], spark=spark)
    assert r["write_wet"]["segments"] == 3
    assert (r["write_wet"]["records"] + r["write_wet"]["skipped"]
            == r["committed_rows"])

    # the manifest matches what's actually on disk, and the segments
    # read back through the repo's own WET source with the committed
    # extracted text intact
    from ocr_spark.sources import snapshot as snap
    from ocr_spark.sources import warc as warc_mod
    man = spark.read.parquet(f"{wet}/manifest")
    assert man.count() == 3
    back = warc_mod.read_warc(spark, f"{wet}/segments") \
        .filter("url is not null")
    committed = snap.SnapshotTable(table).read(spark) \
        .filter("extracted_text is not null")
    got = {(r.url, r.text) for r in back.select("url", "text").collect()}
    want = {(r.url, r.extracted_text)
            for r in committed.collect()}
    assert got == want


def test_job_wet_segments_requires_write_wet(spark, tmp_path):
    with pytest.raises(SystemExit):
        job.main(["--synth", "4", "--table", str(tmp_path / "t"),
                  "--wet-segments", "5"], spark=spark)


def test_job_bm25_index_and_search(spark, tmp_path):
    inp = str(tmp_path / "in.parquet")
    rows = synth.generate_rows(24, profile="cc")
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA) \
        .repartition(2).write.parquet(inp)
    table = str(tmp_path / "table")
    idx = str(tmp_path / "bm25")

    r = job.main(["--input", inp, "--table", table, "--partitions", "2",
                  "--bm25-index", idx, "--bm25-buckets", "8",
                  "--bm25-query", "the quick brown",
                  "--bm25-query", "zzz-no-such-term"], spark=spark)
    assert r["bm25_index"]["docs"] == r["committed_rows"]
    assert r["bm25_index"]["buckets"] == 8
    assert r["bm25_index"]["queries"] == 2

    # index layout: bucketed postings + terms, 1-row meta, hits
    import os
    assert any(d.startswith("bucket=")
               for d in os.listdir(f"{idx}/postings"))
    assert spark.read.parquet(f"{idx}/meta").count() == 1
    hits = spark.read.parquet(f"{idx}/hits")
    assert r["bm25_index"]["hits"] == hits.count()
    # hits agree with a direct (index-free) search over the committed
    # corpus
    from pyspark.sql import functions as F

    from ocr_spark.operators import search as search_mod
    from ocr_spark.sources import snapshot as snap
    corpus = snap.SnapshotTable(table).read(spark).select(
        "url", F.col("extracted_text").alias("text"))
    queries = spark.createDataFrame(
        [(0, "the quick brown"), (1, "zzz-no-such-term")],
        "query_id int, query_text string")
    direct = {(h["query_id"], h["url"], h["rank"])
              for h in search_mod.bm25_topk(
                  corpus, queries, k=10, id_col="url").collect()}
    got = {(h["query_id"], h["url"], h["rank"]) for h in hits.collect()}
    assert got == direct


def test_job_bm25_query_requires_index(spark, tmp_path):
    with pytest.raises(SystemExit):
        job.main(["--synth", "4", "--table", str(tmp_path / "t"),
                  "--bm25-query", "x"], spark=spark)


def test_job_bpe_train_stage(spark, tmp_path):
    inp = str(tmp_path / "in.parquet")
    rows = synth.generate_rows(24, profile="cc")
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA) \
        .repartition(2).write.parquet(inp)
    table = str(tmp_path / "table")
    out = str(tmp_path / "bpe")

    r = job.main(["--input", inp, "--table", table, "--partitions", "2",
                  "--bpe-train", out, "--bpe-merges", "12"], spark=spark)
    assert 0 < r["bpe_train"]["merges"] <= 12
    assert r["bpe_train"]["docs_encoded"] == r["committed_rows"]
    assert r["bpe_train"]["bpe_tokens"] > 0

    # artifacts load back; the merge table replays through the
    # expression encoder to the same token counts the job persisted
    from ocr_spark.operators import bpe as bpe_mod
    from ocr_spark.sources import snapshot as snap
    mdf = spark.read.parquet(f"{out}/merges").orderBy("rank").collect()
    merges = [{"rank": m["rank"], "lhs": m["lhs"], "rhs": m["rhs"],
               "merged": m["merged"], "pair_count": m["pair_count"]}
              for m in mdf]
    from pyspark.sql import functions as F
    corpus = snap.SnapshotTable(table).read(spark).select(
        "url", F.col("extracted_text").alias("text"))
    expr = {r2["url"]: r2["n_bpe_tokens"]
            for r2 in bpe_mod.bpe_encode(
                corpus, merges, id_col="url").collect()}
    persisted = {r2["url"]: r2["n_bpe_tokens"]
                 for r2 in spark.read.parquet(f"{out}/encoded").collect()}
    assert expr == persisted


def test_job_bpe_merges_requires_train(spark, tmp_path):
    with pytest.raises(SystemExit):
        job.main(["--synth", "4", "--table", str(tmp_path / "t"),
                  "--bpe-merges", "5"], spark=spark)


def test_job_lm_buckets_split(spark, tmp_path):
    inp = str(tmp_path / "in.parquet")
    rows = synth.generate_rows(30, profile="cc")
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA) \
        .repartition(2).write.parquet(inp)
    table = str(tmp_path / "table")
    out = str(tmp_path / "lm")

    r = job.main(["--input", inp, "--table", table, "--partitions", "2",
                  "--lm-score", out, "--lm-buckets"], spark=spark)
    counts = r["lm_score"]["buckets"]
    assert sum(counts.values()) == r["committed_rows"]
    # every scored doc landed in a tercile; the split is non-trivial
    scored = counts.get("head", 0) + counts.get("middle", 0) \
        + counts.get("tail", 0)
    assert scored + counts.get("unscored", 0) == r["committed_rows"]
    assert counts.get("head", 0) > 0 and counts.get("tail", 0) > 0
    b = spark.read.parquet(f"{out}/buckets")
    assert {"bucket", "cut_head", "cut_tail"} <= set(b.columns)


def test_job_lm_buckets_requires_lm_score(spark, tmp_path):
    with pytest.raises(SystemExit):
        job.main(["--synth", "4", "--table", str(tmp_path / "t"),
                  "--lm-buckets"], spark=spark)


def test_job_mixture_stage(spark, tmp_path):
    inp = str(tmp_path / "in.parquet")
    rows = synth.generate_rows(40, profile="cc")
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA) \
        .repartition(2).write.parquet(inp)
    table = str(tmp_path / "table")
    out = str(tmp_path / "mix")

    r = job.main(["--input", inp, "--table", table, "--partitions", "2",
                  "--mixture", out, "--mix-weights", "en=3,de=1",
                  "--mix-budget", "4000"], spark=spark)
    mix = r["mixture"]
    assert mix["groups"]["en"]["budget_tokens"] == 3000
    assert mix["groups"]["de"]["budget_tokens"] == 1000
    sample = spark.read.parquet(f"{out}/sample")
    langs = {x["lang"] for x in sample.select("lang").distinct().collect()}
    assert langs <= {"en", "de"}
    # kept counts in the summary match the persisted sample
    from pyspark.sql import functions as F
    per = {x["lang"]: x["n"] for x in sample.groupBy("lang")
           .agg(F.count("*").alias("n")).collect()}
    for g in per:
        assert per[g] == mix["groups"][g]["kept_docs"]


def test_job_mixture_flag_validation(spark, tmp_path):
    t = str(tmp_path / "t")
    with pytest.raises(SystemExit):
        job.main(["--synth", "4", "--table", t, "--mixture",
                  str(tmp_path / "m")], spark=spark)
    with pytest.raises(SystemExit):
        job.main(["--synth", "4", "--table", t, "--mixture",
                  str(tmp_path / "m"), "--mix-weights", "en=oops",
                  "--mix-budget", "10"], spark=spark)
    with pytest.raises(SystemExit):
        job.main(["--synth", "4", "--table", t, "--mixture",
                  str(tmp_path / "m"), "--mix-weights", "en=0",
                  "--mix-budget", "10"], spark=spark)


def test_job_mix_weights_duplicate_group_rejected(spark, tmp_path):
    with pytest.raises(SystemExit):
        job.main(["--synth", "4", "--table", str(tmp_path / "t"),
                  "--mixture", str(tmp_path / "m"),
                  "--mix-weights", "en=2,de=1,en=1",
                  "--mix-budget", "10"], spark=spark)


# One case per option of job._CONSUMERS: the option alone, with none of
# the steps that read it, is a usage error.
ORPHAN_CASES = {
    "metrics": ["--metrics", "m"],
    "run_id": ["--run-id", "r"],
    "partition_by": ["--partition-by", "doc_type"],
    "partitions": ["--partitions", "2"],
    "synth_profile": ["--synth-profile", "default"],
    "neardup_method": ["--neardup-method", "simhash"],
    "embeddings": ["--embeddings", "e.parquet"],
    "neardup_max_bucket": ["--neardup-max-bucket", "50"],
    "gopher_full": ["--gopher-full"],
    "shard_tokens": ["--shard-tokens", "100"],
    "lang_keep": ["--lang-keep", "de"],
    "domain_block": ["--domain-block", "example.com"],
    "domain_cap": ["--domain-cap", "2"],
    "robots_txt": ["--robots-txt", "r.parquet"],
    "robots_agent": ["--robots-agent", "bot"],
    "token_budget": ["--token-budget", "5"],
    "sample_salt": ["--sample-salt", "3"],
    "mix_weights": ["--mix-weights", "en=1"],
    "mix_budget": ["--mix-budget", "10"],
    "mix_group": ["--mix-group", "doc_type"],
    "lm_ref": ["--lm-ref", "ref.parquet"],
    "lm_buckets": ["--lm-buckets"],
    "lm_max_bits": ["--lm-max-bits", "5"],
    "c4_bad_words": ["--c4-bad-words", "x"],
    "benchmark": ["--benchmark", "x.parquet"],
    "decontam_ngram": ["--decontam-ngram", "8"],
    "decontam_min_hits": ["--decontam-min-hits", "2"],
    "substr_ngram": ["--substr-ngram", "5"],
    "substr_max_frac": ["--substr-max-frac", "0.2"],
    "substr_sample": ["--substr-sample", "4"],
    "clf_pos": ["--clf-pos", "p.parquet"],
    "clf_neg": ["--clf-neg", "n.parquet"],
    "clf_threshold": ["--clf-threshold", "0.5"],
    "curate_repair": ["--curate-repair"],
    "wet_segments": ["--wet-segments", "5"],
    "bm25_buckets": ["--bm25-buckets", "8"],
    "bm25_query": ["--bm25-query", "x"],
    "bpe_merges": ["--bpe-merges", "5"],
    "host_rank_iters": ["--host-rank-iters", "5"],
    "compact_partitions": ["--compact-partitions", "2"],
}


@pytest.mark.parametrize("argv", list(ORPHAN_CASES.values()),
                         ids=[a[0] for a in ORPHAN_CASES.values()])
def test_job_orphan_option_is_usage_error(argv, tmp_path, capsys):
    with pytest.raises(SystemExit):
        job._parse(["--table", str(tmp_path / "t"), "--expire-keep", "1",
                    *argv])
    assert f"error: {argv[0]} only applies with" in capsys.readouterr().err


def test_job_stage_table_matches_stage_flags():
    """Every DIR-valued stage flag is wired into job._STAGES (or is
    --outlinks, which reads the input instead of the committed table),
    every stage has a flag, and every option of the consumer table has
    an orphan case above and names real flags."""
    actions = {a.dest: a for a in job._parser()._actions}
    stage_flags = {d for d, a in actions.items() if a.metavar == "DIR"}
    stages = [dest for dest, _ in job._STAGES]
    assert len(stages) == len(set(stages))
    assert set(stages) == stage_flags - {"outlinks"}
    assert set(ORPHAN_CASES) == set(job._CONSUMERS)
    for dest, readers in job._CONSUMERS.items():
        assert dest in actions and set(readers) <= set(actions), dest


def test_job_summary_keys_pinned(spark, tmp_path):
    """The summary's top-level keys, in order, and each nested key set,
    for the flags of test_job_full_curation_chain and for the benchmark's
    --input --curate --write-wet run."""
    inp = str(tmp_path / "in.parquet")
    spark.createDataFrame(synth.generate_rows(16, profile="cc"),
                          schema=schemas.INPUT_SCHEMA).write.parquet(inp)

    def shape(summary):
        return [(k, sorted(v) if isinstance(v, dict) else None)
                for k, v in summary.items()]

    head = [("run_id", None), ("processed", None), ("snapshot", None),
            ("committed_rows", None)]
    r = job.main(["--input", inp, "--table", str(tmp_path / "t"),
                  "--partitions", "2", "--partition-by", "doc_type",
                  "--neardup", str(tmp_path / "nd"),
                  "--dedup-apply", str(tmp_path / "da"),
                  "--quality-filter", str(tmp_path / "qf")], spark=spark)
    assert shape(r) == head + [
        ("neardup", ["max_bucket", "max_bucket_size", "method",
                     "n_buckets", "n_hot_buckets", "pairs",
                     "rows_dropped"]),
        ("dedup_apply", ["clusters", "docs", "dropped", "survivors"]),
        ("quality_filter", ["docs", "dropped", "kept"])]

    r = job.main(["--input", inp, "--table", str(tmp_path / "t2"),
                  "--curate", str(tmp_path / "cur"),
                  "--write-wet", str(tmp_path / "wet")], spark=spark)
    assert shape(r) == head + [
        ("write_wet", ["bytes", "records", "segments", "skipped"]),
        ("curate", ["c4", "clean", "exact_dedup", "gopher", "input",
                    "lang", "neardup", "scrub"])]
    assert list(r["curate"]) == ["input", "scrub", "clean", "lang",
                                 "gopher", "c4", "exact_dedup", "neardup"]
    assert all(sorted(v) == ["in", "out"] for v in r["curate"].values())


def _curate_input(spark, tmp_path, texts):
    rows = [(f"https://cc.synth.local/p{i:02d}/webpage/doc.txt", None,
             None, t, "en", None) for i, t in enumerate(texts)]
    inp = str(tmp_path / "in.parquet")
    spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA)\
        .write.parquet(inp)
    return ["--input", inp, "--table", str(tmp_path / "t"),
            "--partitions", "2", "--curate", str(tmp_path / "curate")]


def test_job_curate_reads_benchmark(spark, tmp_path):
    """--curate --benchmark runs curate's own decontam stage, with no
    standalone --decontam pass."""
    from tests.test_curate import good

    bench = str(tmp_path / "bench.parquet")
    spark.createDataFrame([(good(0).replace("\n", " "),)], ["text"])\
        .write.parquet(bench)
    r = job.main(_curate_input(spark, tmp_path, [good(i) for i in range(4)])
                 + ["--benchmark", bench], spark=spark)
    assert "decontam" not in r
    assert r["curate"]["decontam"] == {"in": 4, "out": 3}


def test_job_curate_reads_c4_bad_words(spark, tmp_path):
    """--curate --c4-bad-words drops the page carrying the word at the
    c4 stage."""
    from tests.test_curate import good

    texts = [good(i) for i in range(4)]
    texts[1] += "\nThe zorblax of the city is here."
    r = job.main(_curate_input(spark, tmp_path, texts)
                 + ["--c4-bad-words", "zorblax"], spark=spark)
    assert r["curate"]["gopher"]["out"] == 4
    assert r["curate"]["c4"] == {"in": 4, "out": 3}
