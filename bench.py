"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

The flagship number is the extraction pipeline's docs/sec (BASELINE.md
primary metric); the other queries time the operator families. Scaling
evidence across two parallelism levels is produced by
tools/scaling_bench.py and recorded in BENCH/BASELINE.md.

Methodology: EVERY query is min-of-N warmed repetitions (default 3;
extraction 4) — the sandbox VM has minutes-long hypervisor-steal waves
that can triple a single wall reading, so single-shot timings are
uninterpretable (BENCH/BASELINE.md). All walls ship in the JSON so the
estimator travels with the number. Every capped LSH operator also
emits its hot-bucket drop report (a capped run says what it capped).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.0


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    sf = _sf_of(sf_dir)

    # Sweep scratch left by crashed runs: every bench path is
    # pid-suffixed, so anything whose pid is dead is garbage. Stale
    # corpora on the RAM tmpfs otherwise eat the very memory the JVM
    # heap and page cache need, skewing later walls.
    import glob
    import shutil
    for d in glob.glob("/dev/shm/ocr_spark_bench_*"):
        pid = re.search(r"_(\d+)(?:_[a-z]+)?$", d)
        if pid and not os.path.exists(f"/proc/{pid.group(1)}"):
            shutil.rmtree(d, ignore_errors=True)

    from ocr_spark.operators import crosscheck, dedup, similarity, textstats
    from ocr_spark.plans.pipeline import run_extraction
    from ocr_spark.session import TMPFS_SCRATCH, build_session
    from ocr_spark.sources import synth

    spark = build_session("ocr_spark_bench", master=f"local[{cpus}]",
                          shuffle_partitions=cpus,
                          extra_conf=TMPFS_SCRATCH)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    # Extraction corpus scaled with sf: sf0.1 -> 160k synthetic docs
    # (cc profile: Common-Crawl-realistic sizes). Materialized to
    # parquet BEFORE the clock starts — the timed number is extraction
    # throughput, not synthetic-corpus generation.
    n_docs = max(2000, int(1_600_000 * sf))
    input_path = f"/dev/shm/ocr_spark_bench_input_{os.getpid()}"
    synth.synth_input_df(spark, n_docs, partitions=cpus * 2, profile="cc")\
        .write.mode("overwrite").parquet(input_path)
    input_df = spark.read.parquet(input_path)

    timings: dict[str, float] = {}
    walls: dict[str, list[float]] = {}
    bucket_reports: dict[str, dict] = {}

    def timed(name, n=None):
        """Min-of-N warmed runs for EVERY query (symmetric estimator —
        a single-shot wall in this sandbox is noise, not a number)."""
        def deco(fn):
            ws = []
            for _ in range(n or reps):
                t0 = time.perf_counter()
                fn()
                ws.append(round(time.perf_counter() - t0, 3))
            walls[name] = ws
            timings[name] = min(ws)
            # stderr narration (stdout stays the one JSON line): a
            # hung leg is identifiable without a thread dump.
            print(f"[bench] {name}: {ws}", file=sys.stderr, flush=True)
        return deco

    def report(name, report_df):
        row = report_df.first()
        bucket_reports[name] = {k: int(row[k]) for k in
                                ("n_buckets", "max_bucket_size",
                                 "n_hot_buckets", "rows_dropped",
                                 "max_bucket")}

    extracted_path = f"/dev/shm/ocr_spark_bench_extracted_{os.getpid()}"

    # Untimed warm-up: spin up the python worker pool (pandas imports)
    # and codegen on a small slice so the timed number is steady-state
    # throughput — what a long-running production job sustains.
    run_extraction(spark, input_df.limit(2048).repartition(cpus),
                   run_id="warmup", num_partitions=cpus)\
        .write.mode("overwrite").parquet(extracted_path)

    @timed("extract_pipeline", n=4)
    def _ex():
        run_extraction(spark, input_df, run_id="bench",
                       num_partitions=cpus * 2)\
            .write.mode("overwrite").parquet(extracted_path)

    extracted = spark.read.parquet(extracted_path)

    # Webtext axis: HTML main-content extraction throughput. The cc
    # corpus texts are wrapped in deterministic boilerplate markup by
    # expressions and materialized pre-clock; the timed pass is the
    # full classify -> salt -> mapInArrow DOM-extract pipeline
    # (textlib/htmltext.py block tree + link/text-density scoring).
    html_input_path = f"/dev/shm/ocr_spark_bench_html_{os.getpid()}"
    esc = F.col("text")
    for raw, ent in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
        esc = F.replace(esc, F.lit(raw), F.lit(ent))
    paras = F.array_join(
        F.transform(F.split(F.coalesce(esc, F.lit("")), "\n"),
                    lambda x: F.concat(F.lit("<p>"), x, F.lit("</p>"))), "")
    page = F.concat(
        F.lit('<html><head><title>Page</title></head><body>'
              '<header><h1>Synth Crawl</h1></header>'
              '<nav><a href="/">Home</a> <a href="/about">About</a></nav>'
              '<div class="sidebar"><a href="/p">Popular posts this week</a>'
              ' <a href="/t">Trending topics now</a></div><article>'),
        paras,
        F.lit('</article><footer>Copyright 2026 Synth Crawl. All rights '
              'reserved.</footer></body></html>'))
    (input_df.select(
        F.regexp_replace("url", r"/[a-z_]+/([0-9]+)\.[a-z]+$",
                         "/webpage/$1.html").alias("url"),
        "warc_ts", page.cast("binary").alias("html"),
        F.lit("").alias("text"), "lang")
     .write.mode("overwrite").parquet(html_input_path))
    html_df = spark.read.parquet(html_input_path)
    html_out_path = extracted_path + "_html"

    @timed("html_extract")
    def _he():
        run_extraction(spark, html_df, run_id="bench-html",
                       num_partitions=cpus * 2)\
            .write.mode("overwrite").parquet(html_out_path)

    # PDF layout analysis throughput (north rule: "pdfminer-style
    # layout analysis for binary PDF payloads"): positioned-span pages
    # (24 glyph runs, two interleaved columns) materialized pre-clock;
    # the timed pass is the mapInPandas line/box/XY-cut pass
    # (textlib/pdflayout.py via operators/multimodal.pdf_layout_boxes).
    import __spark_entry__ as entrymod
    from ocr_spark.operators import multimodal
    layout_path = f"/dev/shm/ocr_spark_bench_layout_{os.getpid()}"
    (input_df.select(
        "url",
        entrymod._layout_payload()(entrymod._layout_tokens_expr())
        .alias("payload"))
     .write.mode("overwrite").parquet(layout_path))
    layout_df = spark.read.parquet(layout_path)

    @timed("pdf_layout")
    def _pl():
        multimodal.pdf_layout_boxes(layout_df,
                                    num_partitions=cpus * 2).count()

    # Real image decode throughput (textlib/imagecodec.py): 32x32 RGB
    # PNGs cycling through all five row filters, generated + encoded
    # executor-side PRE-clock; the timed pass is decode (zlib inflate,
    # CRC verify, unfilter) + pixel featurization via mapInPandas.
    n_img = max(1000, n_docs // 8)
    png_path = f"/dev/shm/ocr_spark_bench_png_{os.getpid()}"

    def _gen_pngs(batches):
        import numpy as np
        import pandas as pd
        from ocr_spark.textlib import imagecodec as ic
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                rng = np.random.RandomState(int(mid) % (2 ** 31))
                arr = rng.randint(0, 256, size=(32, 32, 3), dtype=np.uint8)
                payloads.append(ic.encode_png(arr, filter_type=-1))
            yield pd.DataFrame({"media_id": pdf["media_id"].astype(str),
                                "kind": "image", "payload": payloads})

    (spark.range(n_img).withColumnRenamed("id", "media_id")
     .repartition(cpus * 2)
     .mapInPandas(_gen_pngs,
                  schema="media_id string, kind string, payload binary")
     .write.mode("overwrite").parquet(png_path))
    png_df = spark.read.parquet(png_path)

    @timed("pixel_decode")
    def _px():
        multimodal.extract_pixel_features(
            png_df, num_partitions=cpus * 2).count()

    # Baseline JPEG decode throughput (textlib/jpegcodec.py, r5):
    # 32x32 RGB Annex-K 4:2:0 JPEGs encoded executor-side PRE-clock;
    # the timed pass is the full T.81 decode (Huffman entropy decode,
    # dequant, IDCT, upsample, YCbCr->RGB) + pixel featurization.
    n_jpg = max(500, n_docs // 64)
    jpg_path = f"/dev/shm/ocr_spark_bench_jpg_{os.getpid()}"

    def _gen_jpgs(batches):
        import numpy as np
        import pandas as pd
        from ocr_spark.textlib import jpegcodec as jc
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                rng = np.random.RandomState(int(mid) % (2 ** 31))
                arr = rng.randint(0, 256, size=(32, 32, 3), dtype=np.uint8)
                payloads.append(jc.encode_jpeg_baseline(arr))
            yield pd.DataFrame({"media_id": pdf["media_id"].astype(str),
                                "kind": "image", "payload": payloads})

    (spark.range(n_jpg).withColumnRenamed("id", "media_id")
     .repartition(cpus * 2)
     .mapInPandas(_gen_jpgs,
                  schema="media_id string, kind string, payload binary")
     .write.mode("overwrite").parquet(jpg_path))
    jpg_df = spark.read.parquet(jpg_path)

    @timed("jpeg_decode")
    def _jd():
        multimodal.extract_pixel_features(
            jpg_df, num_partitions=cpus * 2).count()

    # GIF decode throughput (textlib/gifcodec.py, r5): 32x32 64-color
    # noise GIFs (LZW width growth exercised) built PRE-clock; the
    # timed pass is LZW decompress + palette resolve + featurize.
    n_gif = max(500, n_docs // 64)
    gif_path = f"/dev/shm/ocr_spark_bench_gif_{os.getpid()}"

    def _gen_gifs(batches):
        import numpy as np
        import pandas as pd
        from ocr_spark.textlib import gifcodec as gcodec
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                rng = np.random.RandomState(int(mid) % (2 ** 31))
                pal = rng.randint(0, 256, size=(64, 3)).astype(np.uint8)
                f = rng.randint(0, 64, size=(32, 32)).astype(np.uint8)
                payloads.append(gcodec.encode_gif([f], pal))
            yield pd.DataFrame({"media_id": pdf["media_id"].astype(str),
                                "kind": "image", "payload": payloads})

    (spark.range(n_gif).withColumnRenamed("id", "media_id")
     .repartition(cpus * 2)
     .mapInPandas(_gen_gifs,
                  schema="media_id string, kind string, payload binary")
     .write.mode("overwrite").parquet(gif_path))
    gif_df = spark.read.parquet(gif_path)

    @timed("gif_decode")
    def _gd():
        multimodal.extract_pixel_features(
            gif_df, num_partitions=cpus * 2).count()

    # TIFF decode throughput (textlib/tiffcodec.py, r5): 32x32 RGB
    # LZW+predictor TIFFs built PRE-clock; timed pass = IFD walk +
    # strip LZW decode + predictor undo + featurize.
    n_tif = max(500, n_docs // 64)
    tif_path = f"/dev/shm/ocr_spark_bench_tif_{os.getpid()}"

    def _gen_tifs(batches):
        import numpy as np
        import pandas as pd
        from ocr_spark.textlib import tiffcodec as tfc
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                rng = np.random.RandomState(int(mid) % (2 ** 31))
                arr = rng.randint(0, 256, size=(32, 32, 3)).astype(np.uint8)
                payloads.append(tfc.encode_tiff(arr, compression=5,
                                                predictor=2))
            yield pd.DataFrame({"media_id": pdf["media_id"].astype(str),
                                "kind": "image", "payload": payloads})

    (spark.range(n_tif).withColumnRenamed("id", "media_id")
     .repartition(cpus * 2)
     .mapInPandas(_gen_tifs,
                  schema="media_id string, kind string, payload binary")
     .write.mode("overwrite").parquet(tif_path))
    tif_df = spark.read.parquet(tif_path)

    @timed("tiff_decode")
    def _td():
        multimodal.extract_pixel_features(
            tif_df, num_partitions=cpus * 2).count()

    # Progressive (SOF2) decode throughput: same images through the
    # Annex G scan-accumulation path (per-coefficient-bit Python walk
    # across 8 scans — inherently slower than baseline; the number
    # prices that honestly).
    n_pjpg = max(250, n_docs // 256)
    pjpg_path = f"/dev/shm/ocr_spark_bench_pjpg_{os.getpid()}"

    def _gen_pjpgs(batches):
        import numpy as np
        import pandas as pd
        from ocr_spark.textlib import jpegcodec as jc
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                rng = np.random.RandomState(int(mid) % (2 ** 31))
                arr = rng.randint(0, 256, size=(32, 32, 3), dtype=np.uint8)
                payloads.append(jc.encode_jpeg_progressive(arr))
            yield pd.DataFrame({"media_id": pdf["media_id"].astype(str),
                                "kind": "image", "payload": payloads})

    (spark.range(n_pjpg).withColumnRenamed("id", "media_id")
     .repartition(cpus * 2)
     .mapInPandas(_gen_pjpgs,
                  schema="media_id string, kind string, payload binary")
     .write.mode("overwrite").parquet(pjpg_path))
    pjpg_df = spark.read.parquet(pjpg_path)

    @timed("jpeg_progressive")
    def _jp():
        multimodal.extract_pixel_features(
            pjpg_df, num_partitions=cpus * 2).count()

    # Y4M video frame sampling throughput (r5): 25-frame 32x32 C420
    # streams built executor-side PRE-clock; the timed pass samples
    # every 5th frame (skipped frames must cost a pointer bump only)
    # and featurizes the sampled RGB frames.
    n_vid = max(250, n_docs // 128)
    vid_path = f"/dev/shm/ocr_spark_bench_vid_{os.getpid()}"

    def _gen_vids(batches):
        import numpy as np
        import pandas as pd
        from ocr_spark.textlib import avcodec as av
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                rng = np.random.RandomState(int(mid) % (2 ** 31))
                planes = [(rng.randint(0, 256, (32, 32)).astype(np.uint8),
                           rng.randint(0, 256, (16, 16)).astype(np.uint8),
                           rng.randint(0, 256, (16, 16)).astype(np.uint8))
                          for _ in range(25)]
                payloads.append(av.encode_y4m(planes, 32, 32))
            yield pd.DataFrame({"media_id": pdf["media_id"].astype(str),
                                "kind": "video", "payload": payloads})

    (spark.range(n_vid).withColumnRenamed("id", "media_id")
     .repartition(cpus * 2)
     .mapInPandas(_gen_vids,
                  schema="media_id string, kind string, payload binary")
     .write.mode("overwrite").parquet(vid_path))
    vid_df = spark.read.parquet(vid_path)
    video_frame_count = {}

    @timed("video_decode")
    def _vd():
        video_frame_count["frames"] = multimodal.sample_video_frames(
            vid_df, every_n=5, num_partitions=cpus * 2).count()

    # WAT-style link layer (operators/webgraph.py). Timed: (a) the
    # corpus-sized outlink-extraction pass over the same html corpus
    # the extraction bench reads, and (b) the host-sized graph math —
    # host_edges aggregation + 5 PageRank iterations — over an
    # expression-derived 256-host link table (the bench pages
    # interlink only their own host, so real outlinks would collapse
    # to self-edges and the graph leg would price an empty frame).
    from ocr_spark.operators import webgraph
    _h1 = F.pmod(F.xxhash64("url"), F.lit(256))
    _h2 = F.pmod(_h1 * 7 + 3, F.lit(256))
    link_rows = html_df.select(
        F.concat(F.lit("https://h"), _h1.cast("string"),
                 F.lit(".synth.local/p")).alias("src_url"),
        F.concat(F.lit("https://h"), _h2.cast("string"),
                 F.lit(".synth.local/q")).alias("dst_url"))
    web_graph_counts = {}

    @timed("web_graph")
    def _wg():
        web_graph_counts["links"] = webgraph.extract_outlinks(
            html_df, num_partitions=cpus * 2).count()
        web_graph_counts["hosts"] = webgraph.host_rank(
            webgraph.host_edges(link_rows), iters=5).count()

    # Crawl-permission gate (RFC 9309): per-host robots bodies over
    # the same 256 synthetic hosts, parsed once per host, verdict per
    # distinct url (the corpus-sized leg is the host join + regex
    # longest-match; rules are host-sized).
    from ocr_spark.operators import domains as _domains
    from ocr_spark.functions.expressions import url_host as _url_host
    robots_df = (html_df.select(_url_host(F.col("url")).alias("host"))
        .distinct()
        .withColumn(
            "robots_txt",
            F.when(F.pmod(F.xxhash64("host"), F.lit(2)) == 0,
                   F.lit("User-agent: *\nDisallow: /*7.html$\n"
                         "Allow: /p\n"))
            .otherwise(F.lit("User-agent: benchbot\nDisallow: /q\n"
                             "User-agent: *\nDisallow: /private\n"))))
    crawl_counts = {}

    @timed("crawl_gate")
    def _cg():
        rules = _domains.robots_rules(robots_df, agent="benchbot")
        gated = _domains.crawl_gate(
            html_df.select("url"), rules)
        crawl_counts["allowed"] = gated.filter(
            F.col("crawl_allowed")).count()

    # Refetch frontier: corpus-sized sitemap demand (one declared
    # entry per bench page) joined to crawl state (keyed) + host
    # ranks (broadcast), pure-expression scoring. The host-sized XML
    # parse is priced by its own oracle/pytest; the leg that scales
    # with the corpus is this join+score pass.
    _u = F.xxhash64("url")
    entries_df = html_df.select(
        _url_host(F.col("url")).alias("host"),
        F.col("url").alias("loc"),
        F.when(F.pmod(_u, F.lit(4)) == 1,
               F.to_timestamp(F.lit("2026-02-10 00:00:00")))
         .otherwise(F.lit(None).cast("timestamp")).alias("lastmod"),
        F.when(F.pmod(_u, F.lit(3)) == 0, F.lit("daily"))
         .when(F.pmod(_u, F.lit(3)) == 1, F.lit("weekly"))
         .otherwise(F.lit(None).cast("string")).alias("changefreq"),
        F.when(F.pmod(_u, F.lit(2)) == 0, F.lit(0.75))
         .otherwise(F.lit(None).cast("double")).alias("priority"),
        F.lit(False).alias("is_index"))
    state_df = (html_df.filter(F.pmod(F.xxhash64("url"), F.lit(3)) != 0)
                .select(F.col("url"),
                        F.to_timestamp(F.lit("2026-02-01 00:00:00"))
                        .alias("fetched_ts")))
    ranks_df = (html_df.select(_url_host(F.col("url")).alias("host"))
                .distinct()
                .withColumn("rank", (F.pmod(F.xxhash64("host"),
                                            F.lit(64)) / 64.0)))
    frontier_counts = {}

    @timed("crawl_frontier")
    def _cf():
        frontier_counts["due"] = _domains.crawl_frontier(
            entries_df, state_df, as_of="2026-02-02 00:00:00",
            host_ranks=ranks_df).filter("needs_fetch").count()

    # WET sink: the real extracted corpus written back in the crawl's
    # container format (conversion records, gzip-per-record,
    # content-addressed segments) on tmpfs scratch — the timed leg is
    # the full distributed write including the segment-key shuffle.
    from ocr_spark.sources import warc as _warc
    wet_out = f"/dev/shm/ocr_spark_bench_{os.getpid()}_wet"
    wet_counts = {}

    @timed("wet_sink")
    def _ws():
        shutil.rmtree(wet_out, ignore_errors=True)
        man = _warc.write_wet(
            extracted.select("url", "warc_ts",
                             F.col("extracted_text").alias("text"),
                             "lang"),
            wet_out, num_segments=cpus * 2)
        agg = man.agg(F.sum("n_records").alias("r"),
                      F.sum("n_bytes").alias("b")).first()
        wet_counts["records"] = int(agg["r"] or 0)
        wet_counts["bytes"] = int(agg["b"] or 0)
    shutil.rmtree(wet_out, ignore_errors=True)

    # TF-IDF keywords: corpus-wide DF table + per-doc top-3 selection
    # over the full bench corpus (the vocabulary explode + two hash
    # aggregations + WindowGroupLimit top-k are the legs that scale).
    @timed("tfidf_topk")
    def _tk():
        textstats.tfidf_topk(docs, k=3).count()

    # BM25 retrieval: 64 expression-derived queries against the full
    # bench corpus through the real operator (corpus tf aggregation +
    # broadcast query terms + candidate-only scoring shuffle + top-k
    # WindowGroupLimit) — the legs that scale with the corpus.
    from ocr_spark.operators import search as _search
    bm25_q = (docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(311)) == 7)
              .select(F.col("doc_id").alias("query_id"),
                      F.array_join(
                          F.slice(textstats.tokens(F.col("text")), 1, 8),
                          " ").alias("query_text"))
              .limit(64))

    @timed("bm25_search")
    def _bm():
        _search.bm25_topk(docs, bm25_q, k=10).count()

    # BPE tokenizer: train 24 merges on the corpus word histogram
    # (the one corpus-sized pass is the tokenize+count; every merge
    # iteration is vocabulary-sized), then Arrow-encode the whole
    # corpus with the learned table — the two legs that scale.
    from ocr_spark.operators import bpe as _bpe
    bpe_state = {}

    @timed("bpe_train")
    def _bt():
        bpe_state["merges"] = _bpe.bpe_train(
            docs, num_merges=24, word_pattern="^[a-z]+$")

    @timed("bpe_encode")
    def _be():
        _bpe.bpe_encode_arrow(docs, bpe_state["merges"]) \
            .agg(F.sum("n_bpe_tokens")).collect()

    @timed("crosscheck")
    def _cc():
        crosscheck.cross_check(extracted).count()

    @timed("dedup_exact")
    def _de():
        dedup.exact_dedup(docs).count()

    mh_pairs, mh_rep = dedup.minhash_lsh_pairs(
        docs, threshold=0.3, return_report=True, spread=cpus)

    @timed("minhash_lsh")
    def _mh():
        mh_pairs.count()

    report("minhash_lsh", mh_rep)

    sh_pairs, sh_rep = dedup.simhash_pairs(docs, max_hamming=10,
                                           return_report=True, spread=cpus)

    @timed("simhash")
    def _sh():
        sh_pairs.count()

    report("simhash", sh_rep)

    nj_pairs, nj_rep = dedup.ngram_jaccard_pairs(docs, threshold=0.5,
                                                 return_report=True,
                                                 spread=cpus)

    @timed("ngram_jaccard_pairs")
    def _nj():
        nj_pairs.count()

    report("ngram_jaccard_pairs", nj_rep)

    # Near-dup RESOLUTION (r4): pairs -> connected components ->
    # survivor decisions -> corpus shrink, on the minhash pairs above.
    # Timed as one unit because that's the operational shape: a dedup
    # pass that doesn't end in a smaller corpus isn't dedup.
    @timed("dedup_resolve_apply")
    def _dr():
        resolved = dedup.dedup_resolve(mh_pairs, docs=docs)
        dedup.dedup_apply(docs, resolved).count()

    # Gopher repetition signals + filter (r4). The _full variant runs
    # all 12 Table A1 gates (one extra stacked n-gram explode).
    @timed("repetition_full")
    def _repf():
        textstats.repetition_stats_full(docs).count()

    @timed("repetition_stats")
    def _rs():
        textstats.repetition_stats(docs).count()

    # Corpus-level boilerplate line removal (r4, CCNet-style).
    @timed("line_dedup")
    def _ld():
        textstats.line_dedup(docs).count()

    # Benchmark decontamination (r4, Brown et al. 2020 13-gram
    # overlap): the derived eval corpus materializes pre-clock; the
    # timed pass is shingle-hash -> broadcast probe -> per-doc agg on
    # the production xxhash64 path.
    from ocr_spark.operators import decontam as decontam_ops
    bench_path = f"/dev/shm/ocr_spark_bench_benchmark_{os.getpid()}"
    docs.filter(F.col("doc_id") % 50 == 0).select(
        F.array_join(
            F.slice(F.split(dedup.normalize_text(F.col("text")), " "),
                    3, 24), " ").alias("text"))\
        .write.mode("overwrite").parquet(bench_path)
    bench_df = spark.read.parquet(bench_path)

    @timed("decontam")
    def _dc():
        decontam_ops.contamination(docs, bench_df).count()

    # Intra-corpus exact-substring duplication (r4, Lee et al. 2021):
    # anchor-select -> n-token hash at anchors -> min-owner agg ->
    # keyed hash join back -> per-doc agg, on the production xxhash64
    # path over the REAL extracted corpus (160k × 8.6 KB docs — the
    # paper's n=50 at the mod=8 content-defined sampling the job's
    # --substr-sample flag exposes; exact mod=1 at this size runs
    # ~35x longer and is the documented small-corpus mode).
    @timed("substring_dup")
    def _ssd():
        decontam_ops.substring_duplication(
            extracted, n=50, text_col="extracted_text", id_col="url",
            sample_mod=8).agg(F.sum("dup_ngrams")).collect()

    # Model-based quality classification (r4, DCLM/FineWeb-style NB):
    # train (hash-agg token counts over the labeled slice) + score
    # (explode -> broadcast model probe -> per-doc mean-llr), both
    # in-clock — train is closed-form and part of the operator cost.
    @timed("quality_clf")
    def _qc():
        from ocr_spark.operators import qualityclf
        pos = docs.filter(F.col("doc_id") % 5 == 0).select("text")
        neg = pos.select(
            F.regexp_replace("text", "[aeiou]", "").alias("text"))
        qualityclf.nb_quality(docs, pos, neg)\
            .agg(F.sum("n_tokens"), F.avg("mean_llr")).collect()

    # SemDeDup pairs (r4, Abbas et al. 2023): learned k-means cells +
    # within-cell exact cosine. Centroids are amortized model state
    # (trained once per corpus) — trained pre-clock, pairs timed.
    sem_cents = similarity.ivf_train(emb, nlist=64, train_iters=2)

    @timed("semantic_dedup")
    def _sd():
        similarity.semantic_dedup_pairs(
            emb, threshold=0.8, centroids=sem_cents).count()

    # One-shot curation funnel (r4): the whole chained recipe (scrub ->
    # clean -> lang/Gopher/C4 gates -> exact dedup -> near-dup resolve)
    # through operators/curate.py on a deterministic 1/8 slice of the
    # extracted corpus (the component stages are each timed above;
    # this line prices the COMPOSITION: one scalar-gate pipeline, the
    # parquet stage boundary, and the resolve tail on survivors).
    from ocr_spark.operators import curate as curate_ops
    curate_path = f"/dev/shm/ocr_spark_bench_curate_{os.getpid()}"
    curate_in = (extracted.filter(F.xxhash64("url") % 8 == 0)
                 .select("url", "extracted_text"))

    def _cur_mat(d, name):
        d.write.mode("overwrite").parquet(f"{curate_path}/{name}")
        return spark.read.parquet(f"{curate_path}/{name}")

    @timed("curate_funnel")
    def _cf():
        # repair_lines: the synthetic filler is sliding-window line
        # spam by construction (median dup_line_frac 0.80), so without
        # the repair stage the Gopher gate drops the whole corpus and
        # every downstream stage prices an empty frame.
        res = curate_ops.curate(curate_in, text_col="extracted_text",
                                id_col="url", repair_lines=True,
                                materialize=_cur_mat)
        res["decisions"].write.mode("overwrite").parquet(
            f"{curate_path}/decisions")

    curate_funnel_rows = {
        r["stage"]: [r["docs_in"], r["docs_out"]]
        for r in curate_ops.funnel_counts(
            spark.read.parquet(f"{curate_path}/decisions"),
            with_repair=True).collect()}

    @timed("ann_bruteforce")
    def _ann():
        similarity.cosine_topk(emb.filter(F.col("vec_id") < 32), emb, k=10).count()

    # Multi-table LSH on the BLAS signature path. planes=8/tables=8
    # is the r3 tuned config:
    # measured 0.99 recall@1 on planted cos~0.95 neighbors at ~3%
    # candidate fraction (target >=0.9; see ann_recall_* below).
    ANN_PLANES, ANN_TABLES = 8, 8
    lsh_out, lsh_rep = similarity.lsh_cosine_topk(
        emb.filter(F.col("vec_id") < 32), emb, k=10,
        planes=ANN_PLANES, tables=ANN_TABLES, return_report=True)

    @timed("lsh_ann")
    def _lsh():
        lsh_out.count()

    report("lsh_ann", lsh_rep)

    # IVF ANN: the data-DEPENDENT path (learned centroids, one cell per
    # corpus vector, partition-prunable on disk). Training — spherical
    # k-means, one BLAS matmul + tiny partial-sum frame per batch — is
    # pre-clock like the LSH plan construction; the timed number is the
    # probed search. Recall/candidate-fraction go in ivf_report below.
    # nlist follows the FAISS IndexIVFFlat guidance (4sqrt(N)..16sqrt(N);
    # sqrt(2000)=45 -> 179..715): 256 cells, probe 1/8 of them. The r4.0
    # config (nlist=16, nprobe=4 — a quarter of the corpus per query)
    # measured recall@10 0.538; this one reaches 0.70 at HALF that
    # candidate fraction (the sweep is in BENCH/ivf_sweep.md).
    IVF_NLIST, IVF_NPROBE, IVF_ITERS = 256, 32, 5
    ivf_cents = similarity.ivf_train(emb, nlist=IVF_NLIST,
                                     train_iters=IVF_ITERS)
    ivf_out, ivf_rep = similarity.ivf_cosine_topk(
        emb.filter(F.col("vec_id") < 32), emb, k=10, centroids=ivf_cents,
        nprobe=IVF_NPROBE, return_report=True)

    @timed("ivf_ann")
    def _ivf():
        ivf_out.count()

    report("ivf_ann", ivf_rep)

    @timed("textstats")
    def _ts():
        textstats.document_stats(docs).count()

    scrub_path = f"/dev/shm/ocr_spark_bench_scrub_{os.getpid()}"

    @timed("scrub")
    def _scrub():
        # PII redaction then unicode normalization over the extracted
        # corpus, persisted between stages — the exact shape job.py's
        # --pii-scrub / --clean-text stages run (a single fused
        # expression tree would re-evaluate the regex chain once per
        # counter column across the Arrow NFC boundary; production
        # never does that).
        from ocr_spark.operators import scrub
        scrub.pii_scrub(extracted, text_col="extracted_text")\
            .write.mode("overwrite").parquet(f"{scrub_path}/pii")
        scrub.clean_text(spark.read.parquet(f"{scrub_path}/pii"),
                         text_col="extracted_text")\
            .write.mode("overwrite").parquet(f"{scrub_path}/clean")

    @timed("lm_quality")
    def _lm():
        # CCNet-style LM scoring: train the char-trigram model on the
        # doc_id%5==0 slice, score the whole documents table (explode
        # + broadcast joins + per-doc aggregate).
        from ocr_spark.operators import lmscore
        ref = docs.filter(F.col("doc_id") % 5 == 0)
        lmscore.lm_quality(docs, ref)\
            .agg(F.sum("n_grams"), F.avg("bits_per_char")).collect()

    @timed("pricing_summary")
    def _q1():
        (lineitem.filter(F.col("l_shipdate") <= F.lit("2000-09-02"))
         .groupBy("l_returnflag", "l_linestatus")
         .agg(F.sum("l_quantity"), F.avg("l_quantity"), F.count("*"))
         .count())

    # ---- ANN recall (untimed): the tuning numbers the 100 TB config
    # depends on, both regimes. Driver-side numpy is the MEASUREMENT
    # harness, not the operator (1k x 2k x 64 dims is trivial locally).
    #
    # (a) natural-corpus recall@10 vs exact top-10 over >=1k queries.
    #     The synthetic corpus has NO neighbor gap (top-10 cos ~0.32 vs
    #     bulk ~0): sign-LSH recall there is 1-(1-(1-θ/π)^p)^T with
    #     θ/π~0.40, and >=0.9 would require candidate fraction >=1 for
    #     ANY (p,T) — reported for transparency, low by geometry.
    # (b) planted recall@1 at cos~0.95 (deterministic noise) — the
    #     near-dup regime the operator serves; tuned target >=0.9.
    import numpy as np
    erows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in erows])
    mat = np.array([r["embedding"] for r in erows], dtype=np.float64)
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    n_q = min(1000, len(ids))
    sims = mat[:n_q] @ mat.T
    np.fill_diagonal(sims[:, :n_q], -np.inf)
    k = 10
    exact_pairs = set()
    for qi in range(n_q):
        # top-k by (-sim, corpus_id) — the operator's tie-break.
        top = sorted(range(len(ids)), key=lambda c: (-sims[qi, c], ids[c]))[:k]
        exact_pairs.update((int(ids[qi]), int(ids[c])) for c in top)
    nat_queries = emb.filter(F.col("vec_id") < int(ids[n_q - 1]) + 1)
    ann = similarity.lsh_cosine_topk(
        nat_queries, emb, k=k, planes=ANN_PLANES, tables=ANN_TABLES)
    got = {(r["query_id"], r["corpus_id"])
           for r in ann.select("query_id", "corpus_id").collect()}
    recall = round(len(got & exact_pairs) / len(exact_pairs), 4)

    # Multi-probe leg (r4): 1-bit-flip neighbor buckets on the QUERY
    # side tune candidate fraction (and natural-corpus recall) up
    # without more tables — the measured gain over the probes=0
    # baseline, with the candidate fraction it costs, goes in the JSON.
    ANN_PROBES = ANN_PLANES  # probe every Hamming-1 neighbor bucket

    def _cand_fraction(probes: int) -> float:
        q = nat_queries.select(F.col("vec_id").alias("query_id"),
                               F.col("embedding").cast("array<double>")
                               .alias("qv"))
        c = emb.select(F.col("vec_id").alias("corpus_id"),
                       F.col("embedding").cast("array<double>")
                       .alias("cv"))
        qb = similarity._bucket_rows(q, "query_id", "qv", ANN_PLANES,
                                     ANN_TABLES, probes=probes)
        cb = similarity._cap_buckets(
            similarity._bucket_rows(c, "corpus_id", "cv", ANN_PLANES,
                                    ANN_TABLES),
            ["table", "bucket"], 10_000)  # mirror the operator's cap
        n_cand = (qb.join(cb, ["table", "bucket"])
                  .filter(F.col("query_id") != F.col("corpus_id"))
                  .select("query_id", "corpus_id").dropDuplicates()
                  .count())
        return round(n_cand / (n_q * len(ids)), 4)

    ann_mp = similarity.lsh_cosine_topk(
        nat_queries, emb, k=k, planes=ANN_PLANES, tables=ANN_TABLES,
        probes=ANN_PROBES)
    got_mp = {(r["query_id"], r["corpus_id"])
              for r in ann_mp.select("query_id", "corpus_id").collect()}
    recall_mp = round(len(got_mp & exact_pairs) / len(exact_pairs), 4)
    mp_report = {"probes": ANN_PROBES,
                 "recall_at_10_natural": recall_mp,
                 "candidate_fraction": _cand_fraction(ANN_PROBES),
                 "baseline_recall_at_10": recall,
                 "baseline_candidate_fraction": _cand_fraction(0)}

    # IVF natural-corpus recall@10 at the same query set, with the
    # candidate fraction its nprobe/nlist configuration costs — the
    # apples-to-apples comparison against the sign-LSH legs above
    # (IVF is data-dependent, so on the gap-free corpus it buys recall
    # with occupancy instead of hyperplane luck).
    ivf_got = {(r["query_id"], r["corpus_id"])
               for r in similarity.ivf_cosine_topk(
                   nat_queries, emb, k=k, centroids=ivf_cents,
                   nprobe=IVF_NPROBE)
               .select("query_id", "corpus_id").collect()}
    recall_ivf = round(len(ivf_got & exact_pairs) / len(exact_pairs), 4)
    qc = similarity._ivf_cells(
        nat_queries.select(F.col("vec_id").alias("query_id"),
                           F.col("embedding").cast("array<double>")
                           .alias("qv")),
        ivf_cents, "query_id", "qv", IVF_NPROBE, "blas")
    cc = similarity._ivf_cells(
        emb.select(F.col("vec_id").alias("corpus_id"),
                   F.col("embedding").cast("array<double>").alias("cv")),
        ivf_cents, "corpus_id", "cv", 1, "blas")
    ivf_n_cand = (qc.join(cc, "ivf_cid")
                  .filter(F.col("query_id") != F.col("corpus_id")).count())
    ivf_report = {"nlist": IVF_NLIST, "nprobe": IVF_NPROBE,
                  "train_iters": IVF_ITERS,
                  "recall_at_10_natural": recall_ivf,
                  "candidate_fraction": round(
                      ivf_n_cand / (n_q * len(ids)), 4)}
    # The probe knob: doubling nprobe trades candidate fraction for
    # recall on the SAME index (no retrain, no re-bucketing) — unlike
    # sign-LSH, where more recall means more tables and a re-shuffle
    # of every corpus bucket row.
    np2 = min(IVF_NPROBE * 2, IVF_NLIST)
    ivf_got2 = {(r["query_id"], r["corpus_id"])
                for r in similarity.ivf_cosine_topk(
                    nat_queries, emb, k=k, centroids=ivf_cents,
                    nprobe=np2)
                .select("query_id", "corpus_id").collect()}
    qc2 = similarity._ivf_cells(
        nat_queries.select(F.col("vec_id").alias("query_id"),
                           F.col("embedding").cast("array<double>")
                           .alias("qv")),
        ivf_cents, "query_id", "qv", np2, "blas")
    n_cand2 = (qc2.join(cc, "ivf_cid")
               .filter(F.col("query_id") != F.col("corpus_id")).count())
    ivf_report["nprobe_x2"] = {
        "nprobe": np2,
        "recall_at_10_natural": round(
            len(ivf_got2 & exact_pairs) / len(exact_pairs), 4),
        "candidate_fraction": round(n_cand2 / (n_q * len(ids)), 4)}

    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StructField, StructType)
    rng = np.random.default_rng(12345)
    noise = rng.standard_normal(mat.shape)
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    qv = mat + 0.33 * noise  # cos(q_i, v_i) ~ 0.95
    qv /= np.linalg.norm(qv, axis=1, keepdims=True)
    base_id = int(ids.max()) + 1
    qdf = spark.createDataFrame(
        [(base_id + int(ids[i]), qv[i].tolist()) for i in range(n_q)],
        StructType([StructField("vec_id", LongType()),
                    StructField("embedding", ArrayType(DoubleType()))]))
    pl = similarity.lsh_cosine_topk(qdf, emb, k=1,
                                    planes=ANN_PLANES, tables=ANN_TABLES)
    pl_got = {(r["query_id"], r["corpus_id"])
              for r in pl.select("query_id", "corpus_id").collect()}
    planted_recall = round(sum(
        1 for i in range(n_q)
        if (base_id + int(ids[i]), int(ids[i])) in pl_got) / n_q, 4)

    total = round(sum(timings.values()), 3)
    docs_per_sec = round(n_docs / timings["extract_pipeline"], 1)
    n_failed = extracted.filter(F.col("error").isNotNull()).count()

    import shutil
    shutil.rmtree(extracted_path, ignore_errors=True)
    shutil.rmtree(input_path, ignore_errors=True)
    shutil.rmtree(html_input_path, ignore_errors=True)
    shutil.rmtree(html_out_path, ignore_errors=True)
    shutil.rmtree(layout_path, ignore_errors=True)
    shutil.rmtree(png_path, ignore_errors=True)
    shutil.rmtree(scrub_path, ignore_errors=True)
    shutil.rmtree(curate_path, ignore_errors=True)

    print(json.dumps({
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "extraction_docs": n_docs,
        "extraction_docs_per_sec": docs_per_sec,
        "cpus": cpus,
        # Estimator metadata: every headline is the min of N warmed runs
        # on tmpfs scratch; docs/sec divides by docs ATTEMPTED, which
        # includes the deliberate error-path coverage rows (they run the
        # full cascade and fail by design — see sources/synth.py).
        "estimator": f"min_of_{reps}_warm_tmpfs(extract=4)",
        "walls": walls,
        "bucket_reports": bucket_reports,
        "curate_funnel": curate_funnel_rows,
        "ann_recall_at_10_natural": recall,
        "ann_multiprobe": mp_report,
        "ann_ivf": ivf_report,
        "ann_planted_recall_at_1": planted_recall,
        "ann_recall_config": {"planes": ANN_PLANES, "tables": ANN_TABLES,
                              "n_queries": n_q, "planted_cos": 0.95,
                              "target": "planted >= 0.9"},
        "docs_attempted": n_docs,
        "docs_extracted": n_docs - n_failed,
        "docs_failed_by_design": n_failed,
        "html_docs_per_sec": round(n_docs / timings["html_extract"], 1),
        "png_images_decoded": n_img,
        "png_decode_per_sec": round(n_img / timings["pixel_decode"], 1),
        "jpeg_images_decoded": n_jpg,
        "jpeg_decode_per_sec": round(n_jpg / timings["jpeg_decode"], 1),
        "jpeg_progressive_decoded": n_pjpg,
        "jpeg_progressive_per_sec": round(
            n_pjpg / timings["jpeg_progressive"], 1),
        "gif_images_decoded": n_gif,
        "gif_decode_per_sec": round(n_gif / timings["gif_decode"], 1),
        "tiff_images_decoded": n_tif,
        "tiff_decode_per_sec": round(n_tif / timings["tiff_decode"], 1),
        "video_streams_sampled": n_vid,
        "video_frames_featurized": video_frame_count.get("frames"),
        "video_streams_per_sec": round(n_vid / timings["video_decode"], 1),
        "web_links_extracted": web_graph_counts.get("links"),
        "web_hosts_ranked": web_graph_counts.get("hosts"),
        "crawl_allowed": crawl_counts.get("allowed"),
        "frontier_due": frontier_counts.get("due"),
        "wet_records_written": wet_counts.get("records"),
        "wet_mb_per_sec": round(
            wet_counts.get("bytes", 0) / 1e6 / timings["wet_sink"], 1)
        if timings.get("wet_sink") else None,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
