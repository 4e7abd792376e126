"""spark-submit entrypoint (north_rule: deployed via spark-submit
--py-files on multi-executor clusters).

Package + launch:

    zip -r /tmp/ocr_spark.zip ocr_spark
    spark-submit --master <cluster> --py-files /tmp/ocr_spark.zip \\
        ocr_spark/job.py --input /data/pages.parquet \\
        --table /data/extracted --metrics /data/metrics

The job is a resumable pass over the input table: anti-join against
the snapshot manifest (already-committed urls are skipped), salted
mapInArrow extraction, atomic snapshot commit, then the per-partition
metrics table appended for this run (north_rule lineage + metrics).
Re-running the same command after a crash redoes only uncommitted
work; re-running after success is a no-op. Passing --run-id of an
already-committed run is refused (it would orphan that run's data).
--warc <dir> reads Common-Crawl WARC/WET segments directly instead of
a parquet table (sources/warc.py; segment file = task).
--neardup <dir> adds a MinHash-LSH near-dup pass over the committed
snapshot, persisting pairs plus the hot-bucket drop report (capped
runs are never silent: the counters also land in the summary JSON).
--dedup-apply <dir> resolves those pairs to connected components with
one survivor per cluster (dedup.dedup_resolve) and persists the
per-url decisions plus the filtered survivor corpus — the step that
actually SHRINKS the corpus.
--quality-filter <dir> applies the Gopher repetition thresholds
(duplicate-line fraction, top-bigram character mass) to the committed
snapshot, persisting the per-url signals and the filtered corpus.
--lang-filter <dir> keeps only documents whose detected language
(script vote, then Latin stopword vote) is in --lang-keep, persisting
the per-url signals and the filtered corpus.
--line-dedup <dir> removes corpus-level boilerplate lines (a trimmed
line shared by more than 5 distinct documents) from every document,
persisting the cleaned corpus with per-document removal counts.
--lm-score <dir> trains a CCNet-style char-trigram language model on
a reference corpus (--lm-ref parquet; default: the committed snapshot
itself) and persists per-url bits-per-character signals; --lm-max-bits
additionally persists the corpus filtered to documents at or under
that score.
--token-sample <dir> cuts a deterministic token-budget subcorpus
(--token-budget N tokens, salted-hash document order, bucketed
prefix-sum — no global window), persisting the sample and its report.
--pii-scrub <dir> redacts emails, then IPs, then phone numbers
(Dolma-style tokens, operators/scrub.py) from every document,
persisting the scrubbed corpus with per-document redaction counts.
--clean-text <dir> normalizes every document (CRLF fold, control
strip, unicode NFC, whitespace collapse), persisting the cleaned
corpus with per-document character deltas.
--c4-filter <dir> applies the C4 heuristic cleanup (Raffel et al.
2020: terminal-punctuation line retention, sentence floor, lorem
ipsum / brace / bad-word page gates), persisting the per-url signals
and the filtered corpus (retained lines only).
--domain-filter <dir> profiles the corpus per host (url_host key) and
gates it with --domain-block (exact-or-subdomain blocklist) and/or
--domain-cap (max docs per host, deterministic survivors), persisting
the per-host stats and the gated corpus.
--robots-filter <dir> gates the corpus on the RFC 9309 crawl verdict:
--robots-txt points at a (host, robots_txt) parquet, the rules that
govern --robots-agent are parsed once per host (domains.robots_rules)
and every url gets a longest-match allow/disallow verdict
(domains.crawl_gate); the parsed rules and the allowed corpus persist,
with kept/dropped counts in the summary.

Catalog maintenance (each may run alone — no input source needed — or
after an ingest pass in the same invocation):
--rollback <seq> moves the table head back to snapshot <seq> (a new
replicating snapshot; the undone runs' urls become uncommitted and the
next pass re-extracts them). Runs BEFORE the ingest pass.
--compact rewrites the accrued per-run data dirs into one sized dir
behind a replace-snapshot (same rows, fewer files — the long-lived
ingest's file-listing fix). Runs AFTER ingest + curation.
--expire-keep <n> drops all but the newest n manifests and reclaims
data dirs referenced only by expired history. Runs last.

Configuration (shuffle partitions, AQE, Arrow batch size, memory)
comes from spark-submit --conf on a real cluster; launched standalone
(python ocr_spark/job.py) it falls back to the local build_session
defaults so the same file works in tests.
"""

from __future__ import annotations

import argparse
import json
import sys


def _parse_mix_weights(spec: str | None) -> dict[str, float] | None:
    """'en=2,de=1' -> {'en': 2.0, 'de': 1.0}; None/invalid -> raises
    ValueError (the CLI layer converts that to a usage error)."""
    if not spec:
        raise ValueError("empty --mix-weights")
    weights = {}
    for kv in spec.split(","):
        g, _, w = kv.partition("=")
        if not _ or not g.strip():
            raise ValueError(f"bad pair {kv!r}")
        if g.strip() in weights:
            # 'en=2,de=1,en=1' is a typo, not a spec — silently
            # letting the later value win misassembles the mix
            raise ValueError(f"duplicate group {g.strip()!r}")
        weights[g.strip()] = float(w)
    if any(w < 0 for w in weights.values()) or sum(weights.values()) <= 0:
        raise ValueError("weights must be non-negative, positive sum")
    return weights


def _parse(argv):
    p = argparse.ArgumentParser(description="ocr_spark batch extraction job")
    src = p.add_mutually_exclusive_group(required=False)
    src.add_argument("--input", help="input parquet path (north-rule schema)")
    src.add_argument("--warc", help="WARC/WET segment dir or glob: parse "
                                    "Common-Crawl container records into "
                                    "the input table (sources/warc.py)")
    src.add_argument("--synth", type=int, metavar="N",
                     help="synthesize a deterministic N-doc input instead")
    p.add_argument("--table", required=True,
                   help="snapshot-table root for the extraction output; "
                        "with --catalog, a table NAME (namespace.table) "
                        "resolved through the metastore instead of a path")
    p.add_argument("--catalog", default=None, metavar="ROOT",
                   help="metastore root (sources/catalog.py): --table "
                        "becomes a catalog table name, created on first "
                        "use — production jobs address tables by name, "
                        "not path literals")
    p.add_argument("--metrics", default=None,
                   help="parquet dir to append this run's partition metrics")
    p.add_argument("--run-id", default=None,
                   help="stable run id (default: derived from input+snapshot)")
    p.add_argument("--partition-by", default=None, metavar="COLS",
                   help="comma-separated low-cardinality columns (e.g. "
                        "doc_type) to Hive-partition this run's data dir "
                        "by; the spec lands in the snapshot manifest and "
                        "doc_type-scoped readers get directory-pruned "
                        "scans (specs may differ across runs)")
    p.add_argument("--partitions", type=int, default=None,
                   help="extraction partitions (default: 2x parallelism)")
    p.add_argument("--synth-profile", default="cc",
                   choices=("default", "cc"))
    p.add_argument("--neardup", default=None,
                   help="run MinHash-LSH near-dup over the committed "
                        "snapshot's extracted_text and write pairs + the "
                        "hot-bucket drop report under this dir")
    p.add_argument("--neardup-max-bucket", type=int, default=1000)
    p.add_argument("--neardup-method", default="minhash",
                   choices=["minhash", "simhash", "ngram", "embedding",
                            "semantic"],
                   help="pair generator for --neardup: MinHash-LSH "
                        "(set-Jaccard, default), SimHash (64-bit "
                        "fingerprint hamming), exact n-gram Jaccard "
                        "with anchor blocking, embedding-cosine LSH, "
                        "or SemDeDup k-means-cell cosine (the last two "
                        "need --embeddings) — all emit (id_a, id_b) "
                        "pairs the same --dedup-apply resolves")
    p.add_argument("--embeddings", default=None, metavar="PATH",
                   help="parquet of (url, embedding) rows for "
                        "--neardup-method embedding/semantic; rows are "
                        "semi-joined to the committed snapshot's urls")
    p.add_argument("--dedup-apply", default=None, metavar="DIR",
                   help="resolve the --neardup pairs to clusters "
                        "(connected components), persist per-url "
                        "(cluster, keep) decisions and the filtered "
                        "survivor corpus under DIR (requires --neardup)")
    p.add_argument("--quality-filter", default=None, metavar="DIR",
                   help="apply the Gopher repetition thresholds "
                        "(textstats.gopher_quality_filter) to the "
                        "committed snapshot's extracted_text; persist "
                        "the per-url signals + the filtered corpus "
                        "under DIR and report kept/dropped counts")
    p.add_argument("--gopher-full", action="store_true",
                   help="with --quality-filter: use the FULL Gopher "
                        "Table A1 suite (12 gates — dup line/para "
                        "count+char fractions, top 2/3/4-gram mass, "
                        "dup 5..10-gram coverage) instead of the "
                        "2-signal gate")
    p.add_argument("--shard", default=None, metavar="DIR",
                   help="assign every committed document to a "
                        "deterministic fixed-token training shard "
                        "(global salted-hash order, bucketed cumsum — "
                        "no one-partition window) and persist "
                        "Hive-partitioned shard=K/ dirs plus a "
                        "per-shard (docs, tokens) manifest under DIR")
    p.add_argument("--shard-tokens", type=int, default=1_000_000,
                   metavar="N",
                   help="token budget per shard for --shard "
                        "(default 1M)")
    p.add_argument("--lang-filter", default=None, metavar="DIR",
                   help="keep only documents whose detected language "
                        "(textstats.lang_id over the extracted text: "
                        "unicode-script vote, then Latin stopword vote) "
                        "is in --lang-keep; persists per-url signals "
                        "and the filtered corpus under DIR")
    p.add_argument("--lang-keep", default="en",
                   help="comma-separated language codes --lang-filter "
                        "keeps (default: en)")
    p.add_argument("--domain-filter", default=None, metavar="DIR",
                   help="per-domain curation over the committed "
                        "snapshot (operators/domains.py): persist the "
                        "per-host profile (doc/unique/char counts) "
                        "under DIR/stats and the gated corpus under "
                        "DIR/filtered; gate with --domain-block and/or "
                        "--domain-cap")
    p.add_argument("--domain-block", default=None, metavar="HOSTS",
                   help="comma-separated blocked hosts for "
                        "--domain-filter; a host matches exactly or as "
                        "a subdomain (ads.example.com matches blocked "
                        "example.com)")
    p.add_argument("--robots-filter", default=None, metavar="DIR",
                   help="gate the committed corpus on the RFC 9309 "
                        "crawl verdict; persists <dir>/rules and "
                        "<dir>/filtered (allowed urls only)")
    p.add_argument("--robots-txt", default=None, metavar="PATH",
                   help="parquet of (host string, robots_txt string) "
                        "for --robots-filter")
    p.add_argument("--robots-agent", default="*", metavar="TOKEN",
                   help="product token whose robots group applies "
                        "(default: the '*' group)")
    p.add_argument("--domain-cap", type=int, default=None, metavar="N",
                   help="keep at most N docs per host (deterministic "
                        "survivor selection) for --domain-filter")
    p.add_argument("--token-sample", default=None, metavar="DIR",
                   help="cut a deterministic token-budget subcorpus of "
                        "the committed snapshot (operators/sampling.py) "
                        "and persist it under DIR with a one-row report")
    p.add_argument("--token-budget", type=int, default=None, metavar="N",
                   help="token budget for --token-sample")
    p.add_argument("--mixture", default=None, metavar="DIR",
                   help="cut a training-mix subcorpus of the committed "
                        "snapshot (operators/sampling.mixture_sample): "
                        "per-group token budgets proportional to "
                        "--mix-weights within --mix-budget total, "
                        "groups taken from --mix-group; sample + "
                        "per-group report persist under DIR")
    p.add_argument("--mix-weights", default=None, metavar="SPEC",
                   help="comma list g=w for --mixture, e.g. "
                        "'en=2,de=1,fr=1' — groups not named are "
                        "DROPPED (the mix is the spec)")
    p.add_argument("--mix-budget", type=int, default=None, metavar="N",
                   help="total token budget for --mixture")
    p.add_argument("--mix-group", default="lang", metavar="COL",
                   help="grouping column for --mixture (default lang)")
    p.add_argument("--sample-salt", type=int, default=0,
                   help="salt for --token-sample's hash order (a "
                        "different salt draws a different sample)")
    p.add_argument("--lm-score", default=None, metavar="DIR",
                   help="score every committed document's extracted_text "
                        "in bits/char under a CCNet-style char-trigram "
                        "LM (operators/lmscore.py); persist per-url "
                        "signals under DIR")
    p.add_argument("--lm-ref", default=None, metavar="PATH",
                   help="parquet of reference text to train the "
                        "--lm-score model on (column text or "
                        "extracted_text); default: the committed "
                        "snapshot itself (self-scoring flags outliers)")
    p.add_argument("--lm-buckets", action="store_true",
                   help="with --lm-score: also persist the CCNet "
                        "head/middle/tail split (per-language exact-"
                        "tercile cutoffs via a mergeable percentile "
                        "sketch) under DIR/buckets")
    p.add_argument("--lm-max-bits", type=float, default=None,
                   help="with --lm-score, also persist the corpus "
                        "filtered to documents scoring <= this many "
                        "bits/char")
    p.add_argument("--pii-scrub", default=None, metavar="DIR",
                   help="redact emails/IPs/phone numbers (Dolma-style "
                        "tokens, operators/scrub.py) from the committed "
                        "snapshot's extracted_text; persist the scrubbed "
                        "corpus under DIR with per-url redaction counts")
    p.add_argument("--clean-text", default=None, metavar="DIR",
                   help="normalize the committed snapshot's "
                        "extracted_text (CRLF fold, control strip, "
                        "unicode NFC, whitespace collapse); persist the "
                        "cleaned corpus under DIR")
    p.add_argument("--c4-filter", default=None, metavar="DIR",
                   help="apply the C4 heuristic cleanup (Raffel et al. "
                        "2020) to the committed snapshot; persist the "
                        "per-url signals and the filtered corpus "
                        "(retained lines only) under DIR")
    p.add_argument("--c4-bad-words", default=None, metavar="WORDS",
                   help="comma-separated bad-word list for --c4-filter's "
                        "page gate (the paper's LDNOOBW list is external "
                        "— supply it here; default: gate vacuous)")
    p.add_argument("--line-dedup", default=None, metavar="DIR",
                   help="remove corpus-level boilerplate lines "
                        "(textstats.line_dedup, CCNet-style) from the "
                        "committed snapshot's extracted_text; persist "
                        "the cleaned corpus under DIR and report the "
                        "removal counters")
    p.add_argument("--decontam", default=None, metavar="DIR",
                   help="remove benchmark-contaminated documents "
                        "(Brown et al. 2020 13-gram overlap) from the "
                        "committed snapshot; persist the per-url hit "
                        "counts and the decontaminated corpus under DIR")
    p.add_argument("--benchmark", default=None, metavar="PATH",
                   help="parquet of benchmark/eval documents (column "
                        "'text') whose n-grams define contamination for "
                        "--decontam")
    p.add_argument("--decontam-ngram", type=int, default=13,
                   help="shingle width in tokens for --decontam "
                        "(default 13, the GPT-3/Pile setting)")
    p.add_argument("--decontam-min-hits", type=int, default=1,
                   help="distinct overlapping n-grams required to drop "
                        "a document (default 1 = any overlap)")
    p.add_argument("--substr-dedup", default=None, metavar="DIR",
                   help="drop documents recombining long token spans of "
                        "earlier documents (Lee et al. 2021 exact-"
                        "substring duplication, keep-first by url); "
                        "persist the per-url span stats and the "
                        "deduplicated corpus under DIR")
    p.add_argument("--substr-ngram", type=int, default=50,
                   help="span width in tokens for --substr-dedup "
                        "(default 50, the paper's setting)")
    p.add_argument("--substr-max-frac", type=float, default=0.5,
                   help="drop a document when MORE than this fraction "
                        "of its spans occur in earlier documents "
                        "(default 0.5; 0.0 = any shared span drops)")
    p.add_argument("--substr-sample", type=int, default=None,
                   help="content-defined anchor sampling modulus: keep "
                        "only spans whose start token hashes to 0 mod "
                        "this. Default 8: dup_fraction becomes a "
                        "sampled ESTIMATE (a duplicated run of g spans "
                        "goes unsampled with probability ~(1-1/8)^g, "
                        "~0.2%% for a 2n-token span) and the wall drops "
                        "~10x — exact mode (= 1) did not finish at "
                        "160k-doc scale in 560s where mod=8 took 16s. "
                        "Use --substr-exact for exact counting on "
                        "corpora small enough to afford it")
    p.add_argument("--substr-exact", action="store_true",
                   help="exact-substring mode: count EVERY n-token "
                        "span (equivalent to --substr-sample 1, so "
                        "not combinable with --substr-sample; "
                        "quadratic-ish wall on realistic documents — "
                        "see --substr-sample)")
    p.add_argument("--clf-filter", default=None, metavar="DIR",
                   help="score every committed document with a Naive "
                        "Bayes quality classifier (DCLM/FineWeb-style "
                        "model-based filtering) trained on --clf-pos vs "
                        "--clf-neg; persist the per-url scores and the "
                        "above-threshold corpus under DIR")
    p.add_argument("--clf-pos", default=None, metavar="PATH",
                   help="parquet of positive/high-quality example "
                        "documents (column 'text') for --clf-filter")
    p.add_argument("--clf-neg", default=None, metavar="PATH",
                   help="parquet of negative/low-quality example "
                        "documents (column 'text') for --clf-filter")
    p.add_argument("--clf-threshold", type=float, default=0.0,
                   help="keep documents with mean token log-likelihood "
                        "ratio >= this (default 0.0 = the model's "
                        "decision boundary)")
    p.add_argument("--curate", default=None, metavar="DIR",
                   help="run the FULL curation funnel over the "
                        "committed snapshot in one pass (PII scrub -> "
                        "unicode clean -> language gate [--lang-keep] "
                        "-> Gopher repetition gate -> C4 gate "
                        "[--c4-bad-words] -> exact dedup -> MinHash "
                        "near-dup resolve [--neardup-max-bucket] -> "
                        "benchmark decontam when --benchmark is "
                        "given); persist per-document decisions, the "
                        "survivor corpus, and the per-stage funnel "
                        "table under DIR")
    p.add_argument("--curate-repair", action="store_true",
                   help="with --curate: remove in-document repeated "
                        "lines (trafilatura-style repair) between the "
                        "clean stage and the quality gates, instead of "
                        "letting the Gopher dup-line gate drop "
                        "line-spam pages whole")
    p.add_argument("--write-wet", default=None, metavar="DIR",
                   help="persist the committed snapshot's extracted "
                        "text as WET segments under DIR/segments "
                        "(gzip-per-record conversion records, content-"
                        "addressed url-hash segment assignment, "
                        "deterministic bytes — sources/warc.write_wet) "
                        "plus the per-segment manifest parquet under "
                        "DIR/manifest")
    p.add_argument("--wet-segments", type=int, default=64, metavar="N",
                   help="segment-file count for --write-wet (default "
                        "64; size so one segment is ~1 GB at the "
                        "target corpus scale)")
    p.add_argument("--bm25-index", default=None, metavar="DIR",
                   help="build an on-disk BM25 inverted index over the "
                        "committed snapshot's extracted text "
                        "(operators/search.bm25_write_index): postings "
                        "and term dictionary partitioned by term-hash "
                        "bucket under DIR, so a search prunes to the "
                        "buckets its query terms hash to")
    p.add_argument("--bm25-buckets", type=int, default=64, metavar="N",
                   help="term-hash bucket count for --bm25-index "
                        "(default 64)")
    p.add_argument("--bm25-query", action="append", default=None,
                   metavar="TEXT",
                   help="run a BM25 top-10 search for TEXT against the "
                        "--bm25-index just built (repeatable; results "
                        "land under DIR/hits)")
    p.add_argument("--bpe-train", default=None, metavar="DIR",
                   help="train a BPE tokenizer on the committed "
                        "snapshot's extracted text (operators/bpe: "
                        "corpus-sized word histogram, vocabulary-sized "
                        "merge iterations), persist the merge table "
                        "under DIR/merges, and Arrow-encode the corpus "
                        "to per-doc BPE token counts under DIR/encoded")
    p.add_argument("--bpe-merges", type=int, default=256, metavar="K",
                   help="merge count for --bpe-train (default 256)")
    p.add_argument("--outlinks", default=None, metavar="DIR",
                   help="extract the WAT-style link table from the "
                        "INPUT pages' html column (operators/"
                        "webgraph.py) and persist links/, host_edges/ "
                        "and host_rank/ under DIR; requires an input "
                        "source whose rows carry html payloads")
    p.add_argument("--host-rank-iters", type=int, default=10,
                   metavar="N",
                   help="PageRank power iterations for --outlinks "
                        "host_rank (default 10)")
    p.add_argument("--rollback", type=int, default=None, metavar="SEQ",
                   help="before any ingest, move the table head back to "
                        "snapshot SEQ (publishes a new replicating "
                        "snapshot; the undone runs' urls become "
                        "uncommitted and re-extract on the next pass)")
    p.add_argument("--compact", action="store_true",
                   help="after ingest + curation, rewrite the accrued "
                        "per-run data dirs into one dir behind a "
                        "replace-snapshot (same rows, fewer files)")
    p.add_argument("--compact-partitions", type=int, default=None,
                   help="file-count target for --compact (repartition "
                        "before the rewrite; default: keep)")
    p.add_argument("--expire-keep", type=int, default=None, metavar="N",
                   help="drop all but the newest N manifests and reclaim "
                        "data dirs referenced only by expired history "
                        "(runs last)")
    args = p.parse_args(argv)
    has_source = (args.input or args.warc or args.synth is not None)
    has_maintenance = (args.rollback is not None or args.compact
                       or args.expire_keep is not None)
    if not has_source and not has_maintenance:
        p.error("need an input source (--input/--warc/--synth) or a "
                "maintenance op (--rollback/--compact/--expire-keep)")
    if args.compact_partitions is not None and not args.compact:
        p.error("--compact-partitions requires --compact")
    if args.expire_keep is not None and args.expire_keep < 1:
        p.error("--expire-keep must be >= 1 (the head snapshot must "
                "always be retained)")
    if args.dedup_apply and not args.neardup:
        p.error("--dedup-apply requires --neardup (it resolves the "
                "pairs that stage persists)")
    if not args.neardup:
        # A method/sidecar without the stage would be silently ignored
        # — same dependency rule as --dedup-apply above.
        if args.neardup_method != "minhash":
            p.error("--neardup-method requires --neardup")
        if args.embeddings:
            p.error("--embeddings requires --neardup with "
                    "--neardup-method embedding or semantic")
    elif (args.neardup_method in ("embedding", "semantic")
          and not args.embeddings):
        p.error(f"--neardup-method {args.neardup_method} requires "
                "--embeddings (the snapshot carries no vectors)")
    if args.domain_filter:
        if not args.domain_block and args.domain_cap is None:
            p.error("--domain-filter needs --domain-block and/or "
                    "--domain-cap (a gate with no rule would copy the "
                    "corpus and report nothing)")
        if args.domain_cap is not None and args.domain_cap < 1:
            p.error("--domain-cap must be >= 1")
        if args.domain_block:
            entries = [b.strip().lower().lstrip(".")
                       for b in args.domain_block.split(",")]
            bad = [b for b in entries if not b or "/" in b or ":" in b]
            if bad:
                p.error(f"--domain-block entries must be bare hosts "
                        f"(no scheme/port/path): {bad}")
    elif args.domain_block or args.domain_cap is not None:
        p.error("--domain-block/--domain-cap require --domain-filter")
    if args.robots_filter and not args.robots_txt:
        p.error("--robots-filter needs --robots-txt (the per-host "
                "robots.txt parquet)")
    if args.robots_txt and not args.robots_filter:
        p.error("--robots-txt requires --robots-filter")
    if args.robots_agent != "*" and not args.robots_filter:
        p.error("--robots-agent requires --robots-filter")
    if args.c4_bad_words is not None and not args.c4_filter:
        p.error("--c4-bad-words requires --c4-filter")
    if args.bpe_merges < 1:
        p.error("--bpe-merges must be >= 1")
    if args.bpe_merges != 256 and not args.bpe_train:
        p.error("--bpe-merges only applies with --bpe-train")
    if args.bm25_buckets < 1:
        p.error("--bm25-buckets must be >= 1")
    if args.bm25_buckets != 64 and not args.bm25_index:
        p.error("--bm25-buckets only applies with --bm25-index")
    if args.bm25_query and not args.bm25_index:
        p.error("--bm25-query requires --bm25-index")
    if args.outlinks and not has_source:
        p.error("--outlinks reads the INPUT pages' html and needs an "
                "input source (--input/--warc/--synth)")
    if args.host_rank_iters != 10 and not args.outlinks:
        p.error("--host-rank-iters requires --outlinks")
    if args.host_rank_iters < 1:
        p.error("--host-rank-iters must be >= 1")
    if args.wet_segments < 1:
        p.error("--wet-segments must be >= 1")
    if args.wet_segments != 64 and not args.write_wet:
        p.error("--wet-segments only applies with --write-wet")
    if ((args.lm_ref or args.lm_max_bits is not None or args.lm_buckets)
            and not args.lm_score):
        p.error("--lm-ref/--lm-max-bits/--lm-buckets require --lm-score")
    if args.mixture and not (args.mix_weights and args.mix_budget):
        p.error("--mixture requires --mix-weights and --mix-budget")
    if ((args.mix_weights or args.mix_budget is not None
         or args.mix_group != "lang") and not args.mixture):
        p.error("--mix-weights/--mix-budget/--mix-group require "
                "--mixture")
    if args.mixture:
        try:
            mw = _parse_mix_weights(args.mix_weights)
        except ValueError:
            mw = None
        if not mw:
            p.error("--mix-weights must be a comma list of g=w pairs "
                    "with non-negative weights and a positive sum")
    if args.token_sample and args.token_budget is None:
        p.error("--token-sample requires --token-budget")
    if args.token_budget is not None and not args.token_sample:
        p.error("--token-budget requires --token-sample")
    if args.decontam:
        if not args.benchmark:
            p.error("--decontam requires --benchmark (contamination is "
                    "defined relative to an eval corpus)")
        if args.decontam_ngram < 2:
            p.error("--decontam-ngram must be >= 2")
        if args.decontam_min_hits < 1:
            p.error("--decontam-min-hits must be >= 1")
    elif (args.benchmark or args.decontam_ngram != 13
          or args.decontam_min_hits != 1):
        p.error("--benchmark/--decontam-ngram/--decontam-min-hits "
                "require --decontam")
    if args.substr_dedup:
        if args.substr_ngram < 2:
            p.error("--substr-ngram must be >= 2")
        if not 0.0 <= args.substr_max_frac <= 1.0:
            p.error("--substr-max-frac must be in [0, 1]")
        if args.substr_sample is not None and args.substr_sample < 1:
            p.error("--substr-sample must be >= 1")
        if args.substr_exact:
            if args.substr_sample is not None:
                p.error("--substr-exact conflicts with --substr-sample")
            args.substr_sample = 1
        elif args.substr_sample is None:
            args.substr_sample = 8
    elif (args.substr_ngram != 50 or args.substr_max_frac != 0.5
          or args.substr_sample is not None or args.substr_exact):
        p.error("--substr-ngram/--substr-max-frac/--substr-sample/"
                "--substr-exact require --substr-dedup")
    if args.clf_filter:
        if not (args.clf_pos and args.clf_neg):
            p.error("--clf-filter requires --clf-pos and --clf-neg "
                    "(the classifier is trained from labeled examples)")
    elif args.clf_pos or args.clf_neg or args.clf_threshold != 0.0:
        p.error("--clf-pos/--clf-neg/--clf-threshold require "
                "--clf-filter")
    if args.lang_filter:
        from ocr_spark.operators import textstats
        known = (set(textstats.LANG_STOPWORDS)
                 | set(textstats.SCRIPT_RANGES) | {"und"})
        keep = [c.strip() for c in args.lang_keep.split(",") if c.strip()]
        bad = [c for c in keep if c not in known]
        if not keep or bad:
            p.error(f"--lang-keep must name lang_id codes "
                    f"({', '.join(sorted(known))}); got "
                    f"{bad or '(empty)'} — an unmatched gate would "
                    f"silently delete the whole corpus")
    return args


def main(argv=None, spark=None) -> dict:
    args = _parse(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession
    if spark is None:
        spark = SparkSession.getActiveSession()
    if spark is None:
        # spark-submit provides the session config; standalone falls
        # back to local defaults.
        from ocr_spark.session import build_session
        spark = build_session("ocr_spark_job")

    from ocr_spark.plans.pipeline import partition_metrics
    from ocr_spark.sources.snapshot import SnapshotTable, run_with_checkpoint

    if args.catalog:
        from ocr_spark.sources.catalog import Catalog
        table_root = Catalog(args.catalog).create_if_absent(args.table).root
    else:
        table_root = args.table
    table = SnapshotTable(table_root)
    summary = {}

    if args.rollback is not None:
        # Before any ingest: a bad run is undone by one metadata write,
        # and the pass below then re-extracts exactly its urls.
        snap = table.rollback(args.rollback)
        summary["rollback"] = {"to": args.rollback,
                               "new_sequence": snap["sequence"],
                               "committed_rows": snap["committed_rows"]}

    input_df = None
    if args.input:
        input_df = spark.read.parquet(args.input)
    elif args.warc:
        from pyspark.sql import functions as F

        from ocr_spark.sources import warc
        # Malformed-record casualties must surface in the summary
        # (same never-silent contract as the LSH drop counters); the
        # accumulator collects them with no second scan of the
        # segments. Bookkeeping rows (NULL url) are not documents.
        warc_skips = spark.sparkContext.accumulator(0)
        input_df = (warc.read_warc(spark, args.warc,
                                   skip_accumulator=warc_skips)
                    .filter(F.col("url").isNotNull())
                    .drop("_warc_segment", "_warc_offset",
                          "_warc_skipped"))
    elif args.synth is not None:
        from ocr_spark.sources import synth
        input_df = synth.synth_input_df(spark, args.synth,
                                        profile=args.synth_profile)

    if input_df is not None:
        prev = table.current_snapshot()
        run_id = (args.run_id
                  or f"run-{(prev['sequence'] if prev else 0) + 1:06d}")

        result = run_with_checkpoint(
            spark, input_df, table_root, run_id=run_id,
            num_partitions=args.partitions,
            partition_by=([c.strip() for c in args.partition_by.split(",")
                           if c.strip()]
                          if args.partition_by else None))

        if args.metrics and result["processed"] > 0:
            out = spark.read.parquet(table.run_dir(run_id))
            partition_metrics(out).write.mode("append").parquet(args.metrics)

        summary.update({"run_id": run_id, **result})
    summary["committed_rows"] = (table.current_snapshot() or {}).get(
        "committed_rows", 0)
    if args.warc:
        summary["warc_records_skipped"] = int(warc_skips.value)

    if args.outlinks:
        # WAT-style link layer next to the text extraction: the link
        # table comes from the INPUT pages (html never reaches the
        # committed text table), the host graph and rank from the
        # persisted links — so host_rank reads parquet, not a
        # re-extraction.
        from ocr_spark.operators import webgraph
        if "html" not in input_df.columns or "url" not in input_df.columns:
            raise ValueError(
                "--outlinks needs (url, html) on the input source; "
                f"got columns {input_df.columns}")
        links = webgraph.extract_outlinks(
            input_df.select("url", "html"),
            num_partitions=args.partitions)
        links.write.mode("overwrite").parquet(f"{args.outlinks}/links")
        links = spark.read.parquet(f"{args.outlinks}/links")
        edges = webgraph.host_edges(links)
        edges.write.mode("overwrite").parquet(
            f"{args.outlinks}/host_edges")
        edges = spark.read.parquet(f"{args.outlinks}/host_edges")
        webgraph.host_rank(edges, iters=args.host_rank_iters)\
            .write.mode("overwrite").parquet(f"{args.outlinks}/host_rank")
        summary["outlinks"] = {
            "links": links.count(),
            "nofollow_links": links.filter("nofollow").count(),
            "host_edges": edges.count(),
            "hosts_ranked": spark.read.parquet(
                f"{args.outlinks}/host_rank").count()}

    if args.write_wet:
        # Publish the extracted corpus back in the crawl's own
        # container format: WET conversion records any downstream WET
        # consumer (including this repo's --warc source) reads
        # unchanged. Executors write the segment files; the driver
        # only persists the num_segments-row manifest. Deterministic
        # bytes (content-addressed segments, sorted rows, mtime-0
        # gzip) make a re-run or task retry install identical files.
        from pyspark.sql import functions as F

        from ocr_spark.sources import warc as warc_mod
        committed = table.read(spark)
        if committed is not None:
            pages = committed.select(
                "url", "warc_ts",
                F.col("extracted_text").alias("text"), "lang")
            man = warc_mod.write_wet(pages, f"{args.write_wet}/segments",
                                     num_segments=args.wet_segments)
            man.write.mode("overwrite").parquet(
                f"{args.write_wet}/manifest")
            man = spark.read.parquet(f"{args.write_wet}/manifest")
            agg = man.agg(
                F.count("*").alias("segments"),
                F.sum("n_records").alias("records"),
                F.sum("n_bytes").alias("bytes"),
                F.sum("n_skipped").alias("skipped")).first()
            summary["write_wet"] = {
                "segments": int(agg["segments"] or 0),
                "records": int(agg["records"] or 0),
                "bytes": int(agg["bytes"] or 0),
                "skipped": int(agg["skipped"] or 0)}

    if args.bm25_index:
        # Inverted-index layer over the committed extraction output:
        # postings/terms partitioned by term-hash bucket (file-level
        # prune at search time), meta as one row. Searches, if asked,
        # run against the on-disk layout — the same path a separate
        # search job would take — never against the in-session frames.
        from pyspark.sql import functions as F

        from ocr_spark.operators import search as search_mod
        committed = table.read(spark)
        if committed is not None:
            corpus = committed.select(
                "url", F.col("extracted_text").alias("text"))
            search_mod.bm25_write_index(
                corpus, args.bm25_index, buckets=args.bm25_buckets,
                id_col="url")
            meta = spark.read.parquet(f"{args.bm25_index}/meta").first()
            summary["bm25_index"] = {
                "docs": int(meta["n_docs"]),
                "avgdl": round(float(meta["avgdl"] or 0.0), 2),
                "buckets": args.bm25_buckets}
            if args.bm25_query:
                queries = spark.createDataFrame(
                    list(enumerate(args.bm25_query)),
                    "query_id int, query_text string")
                hits = search_mod.bm25_search_index(
                    spark, args.bm25_index, queries, k=10,
                    buckets=args.bm25_buckets, id_col="url")
                hits.write.mode("overwrite").parquet(
                    f"{args.bm25_index}/hits")
                summary["bm25_index"]["queries"] = len(args.bm25_query)
                summary["bm25_index"]["hits"] = spark.read.parquet(
                    f"{args.bm25_index}/hits").count()

    if args.bpe_train:
        # Tokenizer layer: the merge table is the persistable artifact
        # (what a training run ships alongside the corpus); the encode
        # pass runs the Arrow production path — the expression encoder
        # is for bounded oracle-able tables, not 256-merge jobs.
        from pyspark.sql import functions as F

        from ocr_spark.operators import bpe as bpe_mod
        committed = table.read(spark)
        if committed is not None:
            corpus = committed.select(
                "url", F.col("extracted_text").alias("text"))
            merges = bpe_mod.bpe_train(
                corpus, num_merges=args.bpe_merges, id_col="url")
            bpe_mod.merges_df(spark, merges).write.mode(
                "overwrite").parquet(f"{args.bpe_train}/merges")
            encoded = bpe_mod.bpe_encode_arrow(corpus, merges,
                                               id_col="url")
            encoded.select("url", "n_bpe_tokens").write.mode(
                "overwrite").parquet(f"{args.bpe_train}/encoded")
            enc = spark.read.parquet(f"{args.bpe_train}/encoded")
            agg = enc.agg(F.count("*").alias("docs"),
                          F.sum("n_bpe_tokens").alias("toks")).first()
            summary["bpe_train"] = {
                "merges": len(merges),
                "docs_encoded": int(agg["docs"]),
                "bpe_tokens": int(agg["toks"] or 0)}

    if args.neardup:
        # Optional curation stage over the whole committed table. The
        # hot-bucket cap drops degenerate buckets (dedup.cap_buckets);
        # a capped run must SAY what it capped, so the drop counters are
        # persisted next to the pairs and surfaced in the summary.
        from ocr_spark.operators import dedup
        committed = table.read(spark)
        if committed is not None:
            # Any of the three text-side pair generators feeds the same
            # pairs/resolve/apply tail — they share the (id_a, id_b)
            # contract and the one-row bucket_report shape.
            coverage = {}

            def _embedding_sidecar(d):
                # The committed snapshot carries no vectors; an
                # embeddings sidecar table joins in by url (semi-join so
                # uncommitted or stale vectors never create pairs; one
                # row per url so an append-built sidecar can't fan
                # pairs out). Coverage is counted: docs the sidecar
                # MISSES can never pair, and a silent gap would violate
                # this stage's never-silent contract.
                emb = (spark.read.parquet(args.embeddings)
                       .dropDuplicates(["url"])
                       .join(d.select("url"), "url", "left_semi"))
                coverage["docs_with_embeddings"] = emb.count()
                coverage["docs_missing_embeddings"] = (
                    d.count() - coverage["docs_with_embeddings"])
                return emb

            def _embedding_pairs(d):
                from ocr_spark.operators import similarity
                return similarity.embedding_near_dup_pairs(
                    _embedding_sidecar(d), id_col="url",
                    vec_col="embedding",
                    max_bucket=args.neardup_max_bucket,
                    return_report=True)

            def _semantic_pairs(d):
                # SemDeDup (Abbas et al. 2023): learned k-means cells
                # instead of LSH buckets; same sidecar contract and the
                # same (id_a, id_b) + bucket_report shape downstream.
                from ocr_spark.operators import similarity
                return similarity.semantic_dedup_pairs(
                    _embedding_sidecar(d), id_col="url",
                    vec_col="embedding",
                    max_cell=args.neardup_max_bucket,
                    return_report=True)

            generators = {
                "minhash": lambda d: dedup.minhash_lsh_pairs(
                    d, text_col="extracted_text", id_col="url",
                    hash_mode="poly",
                    max_bucket=args.neardup_max_bucket,
                    return_report=True),
                "simhash": lambda d: dedup.simhash_pairs(
                    d, text_col="extracted_text", id_col="url",
                    max_bucket=args.neardup_max_bucket,
                    return_report=True),
                "ngram": lambda d: dedup.ngram_jaccard_pairs(
                    d, text_col="extracted_text", id_col="url",
                    max_bucket=args.neardup_max_bucket,
                    return_report=True),
                "embedding": _embedding_pairs,
                "semantic": _semantic_pairs,
            }
            pairs, report = generators[args.neardup_method](
                committed.select("url", "extracted_text"))
            pairs.write.mode("overwrite").parquet(f"{args.neardup}/pairs")
            report.write.mode("overwrite").parquet(
                f"{args.neardup}/bucket_report")
            rep = spark.read.parquet(f"{args.neardup}/bucket_report").first()
            summary["neardup"] = {
                "method": args.neardup_method,
                "pairs": spark.read.parquet(f"{args.neardup}/pairs").count(),
                **coverage,
                **{k: int(rep[k]) for k in
                   ("n_buckets", "max_bucket_size", "n_hot_buckets",
                    "rows_dropped", "max_bucket")}}
            if args.dedup_apply:
                # Pairs are analytics; DECISIONS shrink the corpus:
                # components -> one survivor per cluster -> anti-join
                # the losers out. Both tables persist so a downstream
                # job (or a resumed one) applies the same decisions.
                committed_pairs = spark.read.parquet(
                    f"{args.neardup}/pairs")
                resolved = dedup.dedup_resolve(
                    committed_pairs, docs=committed, id_col="url")
                resolved.write.mode("overwrite").parquet(
                    f"{args.dedup_apply}/resolved")
                resolved = spark.read.parquet(
                    f"{args.dedup_apply}/resolved")
                survivors = dedup.dedup_apply(committed, resolved,
                                              id_col="url")
                survivors.write.mode("overwrite").parquet(
                    f"{args.dedup_apply}/survivors")
                n_docs = committed.count()
                n_kept = spark.read.parquet(
                    f"{args.dedup_apply}/survivors").count()
                summary["dedup_apply"] = {
                    "docs": n_docs, "survivors": n_kept,
                    "dropped": n_docs - n_kept,
                    "clusters": resolved.filter("keep").count()}

    if args.quality_filter:
        # Gopher-style repetition gate (textstats; Rae et al. 2021
        # thresholds): the signals table persists next to the filtered
        # corpus so a dropped page is always explainable.
        from ocr_spark.operators import textstats
        committed = table.read(spark)
        if committed is not None:
            rep = (textstats.repetition_stats_full if args.gopher_full
                   else textstats.repetition_stats)
            stats = rep(
                committed.select("url", "extracted_text"),
                text_col="extracted_text", id_col="url")
            stats.write.mode("overwrite").parquet(
                f"{args.quality_filter}/signals")
            stats = spark.read.parquet(f"{args.quality_filter}/signals")
            kept = committed.join(stats.filter("keep").select("url"),
                                  on="url", how="left_semi")
            kept.write.mode("overwrite").parquet(
                f"{args.quality_filter}/filtered")
            n_docs = committed.count()
            n_kept = spark.read.parquet(
                f"{args.quality_filter}/filtered").count()
            summary["quality_filter"] = {
                "docs": n_docs, "kept": n_kept,
                "dropped": n_docs - n_kept}

    if args.lang_filter:
        # Language gate (the standard first curation stage of a webtext
        # pipeline — CCNet/Gopher both lead with it): per-url signals
        # persist next to the filtered corpus so a dropped page is
        # always explainable, same contract as --quality-filter.
        from pyspark.sql import functions as F

        from ocr_spark.operators import textstats
        committed = table.read(spark)
        if committed is not None:
            keep_langs = [c.strip() for c in args.lang_keep.split(",")
                          if c.strip()]
            # with_lang_guess, not the Column form: the landed token
            # array evaluates the normalize+split once per document
            # instead of ~L^2 times (textstats.lang_id PERF WARNING).
            signals = textstats.with_lang_guess(
                committed, "extracted_text").select("url", "lang_guess")
            signals.write.mode("overwrite").parquet(
                f"{args.lang_filter}/signals")
            signals = spark.read.parquet(f"{args.lang_filter}/signals")
            kept = committed.join(
                signals.filter(F.col("lang_guess").isin(keep_langs))
                .select("url"), on="url", how="left_semi")
            kept.write.mode("overwrite").parquet(
                f"{args.lang_filter}/filtered")
            n_docs = committed.count()
            n_kept = spark.read.parquet(
                f"{args.lang_filter}/filtered").count()
            summary["lang_filter"] = {
                "keep": keep_langs, "docs": n_docs, "kept": n_kept,
                "dropped": n_docs - n_kept}

    if args.shard:
        # Deterministic fixed-token training shards (the layout
        # training loaders consume): Hive-partitioned shard=K/ dirs +
        # a per-shard (docs, tokens) manifest. Reproducible from
        # (--shard-tokens, salt=0) alone.
        from ocr_spark.operators import sampling
        committed = table.read(spark)
        if committed is not None:
            sampling.write_token_shards(
                committed, args.shard, args.shard_tokens,
                text_col="extracted_text", id_col="url")
            rows = spark.read.parquet(f"{args.shard}/_manifest")\
                .orderBy("shard").collect()
            summary["shard"] = {
                "tokens_per_shard": args.shard_tokens,
                "n_shards": len(rows),
                "total_tokens": sum(int(r["tokens"]) for r in rows),
                "total_docs": sum(int(r["docs"]) for r in rows)}

    if args.decontam:
        # Benchmark decontamination (Brown et al. 2020 Appendix C):
        # the per-url hit counts persist next to the decontaminated
        # corpus so a dropped page is always explainable — same
        # never-silent contract as the other gates.
        from pyspark.sql import functions as F

        from ocr_spark.operators import decontam as decontam_ops
        committed = table.read(spark)
        if committed is not None:
            bench = spark.read.parquet(args.benchmark)
            hits = decontam_ops.contamination(
                committed, bench, n=args.decontam_ngram,
                text_col="extracted_text", id_col="url",
                bench_text_col="text")
            hits.write.mode("overwrite").parquet(f"{args.decontam}/hits")
            hits = spark.read.parquet(f"{args.decontam}/hits")
            bad = hits.filter(
                F.col("hit_count") >= args.decontam_min_hits)
            kept = committed.join(bad.select("url"), on="url",
                                  how="left_anti")
            kept.write.mode("overwrite").parquet(
                f"{args.decontam}/filtered")
            n_docs = committed.count()
            n_kept = spark.read.parquet(
                f"{args.decontam}/filtered").count()
            summary["decontam"] = {
                "ngram": args.decontam_ngram,
                "min_hits": args.decontam_min_hits,
                "docs": n_docs, "kept": n_kept,
                "dropped": n_docs - n_kept,
                "contaminated": bad.count()}

    if args.substr_dedup:
        # Intra-corpus exact-substring dedup (Lee et al. 2021):
        # keep-first by url; the per-url span stats persist next to
        # the survivor corpus — never-silent like the other gates.
        from pyspark.sql import functions as F

        from ocr_spark.operators import decontam as decontam_ops
        committed = table.read(spark)
        if committed is not None:
            stats = decontam_ops.substring_duplication(
                committed, n=args.substr_ngram,
                text_col="extracted_text", id_col="url",
                sample_mod=args.substr_sample)
            stats.write.mode("overwrite").parquet(
                f"{args.substr_dedup}/spans")
            stats = spark.read.parquet(f"{args.substr_dedup}/spans")
            bad = stats.filter(
                F.col("dup_fraction") > args.substr_max_frac)
            kept = committed.join(bad.select("url"), on="url",
                                  how="left_anti")
            kept.write.mode("overwrite").parquet(
                f"{args.substr_dedup}/filtered")
            n_docs = committed.count()
            n_kept = spark.read.parquet(
                f"{args.substr_dedup}/filtered").count()
            summary["substr_dedup"] = {
                "ngram": args.substr_ngram,
                "max_frac": args.substr_max_frac,
                "sample_mod": args.substr_sample,
                "docs": n_docs, "kept": n_kept,
                "dropped": n_docs - n_kept}

    if args.clf_filter:
        # Model-based quality filtering (DCLM/FineWeb-style): the
        # closed-form NB model trains on the labeled sidecars, every
        # committed doc's score persists next to the filtered corpus.
        from pyspark.sql import functions as F

        from ocr_spark.operators import qualityclf
        committed = table.read(spark)
        if committed is not None:
            # Sidecar examples carry 'text'; the snapshot carries
            # 'extracted_text' — fold both onto the snapshot's name.
            pos = (spark.read.parquet(args.clf_pos)
                   .select(F.col("text").alias("extracted_text")))
            neg = (spark.read.parquet(args.clf_neg)
                   .select(F.col("text").alias("extracted_text")))
            scores = qualityclf.nb_quality(
                committed, pos, neg,
                text_col="extracted_text", id_col="url")
            scores.write.mode("overwrite").parquet(
                f"{args.clf_filter}/scores")
            scores = spark.read.parquet(f"{args.clf_filter}/scores")
            keep = scores.filter(
                F.col("mean_llr") >= args.clf_threshold)
            kept = committed.join(keep.select("url"), on="url",
                                  how="left_semi")
            kept.write.mode("overwrite").parquet(
                f"{args.clf_filter}/filtered")
            n_docs = committed.count()
            n_kept = spark.read.parquet(
                f"{args.clf_filter}/filtered").count()
            summary["clf_filter"] = {
                "threshold": args.clf_threshold,
                "docs": n_docs, "kept": n_kept,
                "dropped": n_docs - n_kept}

    if args.domain_filter:
        # Per-domain curation (RefinedWeb-style cap + C4-style
        # blocklist): the per-host profile persists next to the gated
        # corpus so a dropped domain is always explainable — same
        # never-silent contract as the other stages.
        from ocr_spark.operators import domains
        committed = table.read(spark)
        if committed is not None:
            blocked = ([b.strip() for b in args.domain_block.split(",")
                        if b.strip()] if args.domain_block else [])
            stats = domains.domain_stats(committed, url_col="url",
                                         text_col="extracted_text")
            stats.write.mode("overwrite").parquet(
                f"{args.domain_filter}/stats")
            gated = committed
            if blocked:
                gated = domains.domain_filter(gated, blocked)
            if args.domain_cap is not None:
                gated = domains.domain_cap(gated, args.domain_cap)
            gated.write.mode("overwrite").parquet(
                f"{args.domain_filter}/filtered")
            n_docs = committed.count()
            n_kept = spark.read.parquet(
                f"{args.domain_filter}/filtered").count()
            n_hosts = spark.read.parquet(
                f"{args.domain_filter}/stats").count()
            summary["domain_filter"] = {
                "hosts": n_hosts, "blocked": blocked,
                "cap": args.domain_cap, "docs": n_docs, "kept": n_kept,
                "dropped": n_docs - n_kept}

    if args.robots_filter:
        # Crawl-permission gate (RFC 9309): the parsed rule table
        # persists next to the allowed corpus so every dropped url is
        # explainable by the rule row that blocked it — same
        # never-silent contract as the other curation stages.
        from pyspark.sql import functions as F

        from ocr_spark.operators import domains
        committed = table.read(spark)
        if committed is not None:
            robots = spark.read.parquet(args.robots_txt)
            rules = domains.robots_rules(robots, agent=args.robots_agent)
            rules.write.mode("overwrite").parquet(
                f"{args.robots_filter}/rules")
            rules = spark.read.parquet(f"{args.robots_filter}/rules")
            gated = domains.crawl_gate(committed, rules)
            (gated.filter(F.col("crawl_allowed"))
             .drop("crawl_allowed")
             .write.mode("overwrite")
             .parquet(f"{args.robots_filter}/filtered"))
            n_docs = committed.count()
            n_kept = spark.read.parquet(
                f"{args.robots_filter}/filtered").count()
            # The same robots table also names each host's sitemaps
            # (RFC 9309 'other records') — the discovery edge the
            # frontier fetches next; persisted alongside the rules.
            maps = domains.robots_sitemaps(robots)
            maps.write.mode("overwrite").parquet(
                f"{args.robots_filter}/sitemaps")
            summary["robots_filter"] = {
                "agent": args.robots_agent,
                "hosts_with_rules": rules.select("host").distinct().count(),
                "rules": rules.count(),
                "sitemaps_discovered": spark.read.parquet(
                    f"{args.robots_filter}/sitemaps").count(),
                "docs": n_docs, "kept": n_kept,
                "dropped": n_docs - n_kept}

    if args.line_dedup:
        # Corpus-level boilerplate line removal (CCNet-style): cleaned
        # text + per-doc removal counts persist; the one-row report
        # rides the summary (never-silent contract).
        from pyspark.sql import functions as F

        from ocr_spark.operators import textstats
        committed = table.read(spark)
        if committed is not None:
            cleaned = textstats.line_dedup(
                committed.select("url", "extracted_text"),
                text_col="extracted_text", id_col="url")
            # line_dedup's groupBy output carries only (url, cleaned
            # text, n_lines_removed); re-joining the committed row keeps
            # every metadata column, so {dir}/cleaned has the SAME
            # schema contract as --quality-filter's {dir}/filtered and
            # downstream curation stages can chain over it. The
            # committed side deduplicates on url first: line_dedup
            # emits ONE row per url, and a within-run duplicate url in
            # the snapshot would otherwise fan the cleaned row back out
            # (duplicate corpus rows + double-counted counters).
            full = (committed.dropDuplicates(["url"])
                    .drop("extracted_text").join(cleaned, "url"))
            full.write.mode("overwrite").parquet(
                f"{args.line_dedup}/cleaned")
            # Counters aggregate from the PERSISTED parquet (the
            # sibling stages' pattern) instead of re-running the whole
            # explode/join/reassembly lineage a second time; only the
            # hot-line count re-derives its reassembly-free aggregation.
            back = spark.read.parquet(f"{args.line_dedup}/cleaned")
            r = back.agg(
                F.sum("n_lines_removed").alias("lines_removed"),
                F.count_if(F.col("n_lines_removed") > 0)
                .alias("docs_touched")).first()
            n_hot = textstats.hot_line_keys(
                committed.select("url", "extracted_text"),
                text_col="extracted_text", id_col="url").count()
            summary["line_dedup"] = {
                "lines_removed": int(r["lines_removed"] or 0),
                "docs_touched": int(r["docs_touched"] or 0),
                "n_hot_lines": int(n_hot)}

    if args.lm_score:
        # CCNet-style LM quality scoring: per-url bits/char signals
        # persist (and optionally the <=threshold corpus) — same
        # explainable-drop contract as the other quality gates.
        from pyspark.sql import functions as F

        from ocr_spark.operators import lmscore
        committed = table.read(spark)
        if committed is not None:
            if args.lm_ref:
                ref = spark.read.parquet(args.lm_ref)
                ref_col = ("extracted_text" if "extracted_text"
                           in ref.columns else "text")
            else:
                ref, ref_col = committed, "extracted_text"
            model = lmscore.train_char_lm(ref, text_col=ref_col)
            signals = lmscore.lm_score(committed, model,
                                       text_col="extracted_text",
                                       id_col="url")
            signals.write.mode("overwrite").parquet(
                f"{args.lm_score}/signals")
            signals = spark.read.parquet(f"{args.lm_score}/signals")
            r = signals.agg(
                F.count("*").alias("docs"),
                F.round(F.avg("bits_per_char"), 3).alias("mean_bits"),
                F.round(F.max("bits_per_char"), 3).alias("max_bits"))\
                .first()
            summary["lm_score"] = {
                "docs": int(r["docs"]), "vocab": model["vocab"],
                "mean_bits_per_char": float(r["mean_bits"] or 0.0),
                "max_bits_per_char": float(r["max_bits"] or 0.0)}
            if args.lm_max_bits is not None:
                kept = committed.join(
                    signals.filter(
                        F.col("bits_per_char") <= args.lm_max_bits)
                    .select("url"), on="url", how="left_semi")
                kept.write.mode("overwrite").parquet(
                    f"{args.lm_score}/filtered")
                n_kept = spark.read.parquet(
                    f"{args.lm_score}/filtered").count()
                summary["lm_score"]["kept"] = n_kept
                summary["lm_score"]["dropped"] = int(r["docs"]) - n_kept
            if args.lm_buckets:
                # CCNet head/middle/tail split over the same signals
                # (per-language when the snapshot carries lang);
                # sketch-based cutoffs — the corpus-scale path.
                lang_col = "lang" if "lang" in committed.columns else None
                scored = signals
                if lang_col:
                    scored = signals.join(
                        committed.select("url", "lang"), "url")
                buckets = lmscore.ccnet_buckets(scored,
                                                lang_col=lang_col)
                buckets.write.mode("overwrite").parquet(
                    f"{args.lm_score}/buckets")
                counts = {b["bucket"] or "unscored": b["n"]
                          for b in spark.read.parquet(
                              f"{args.lm_score}/buckets")
                          .groupBy("bucket")
                          .agg(F.count("*").alias("n")).collect()}
                summary["lm_score"]["buckets"] = counts

    if args.pii_scrub:
        # Dolma-style PII redaction (operators/scrub.py): the scrubbed
        # corpus keeps the committed schema plus the per-url counter,
        # so curation stages chain over it; totals ride the summary
        # (never-silent contract).
        from pyspark.sql import functions as F

        from ocr_spark.operators import scrub
        committed = table.read(spark)
        if committed is not None:
            scrubbed = scrub.pii_scrub(committed,
                                       text_col="extracted_text")
            scrubbed.write.mode("overwrite").parquet(
                f"{args.pii_scrub}/scrubbed")
            back = spark.read.parquet(f"{args.pii_scrub}/scrubbed")
            r = back.agg(
                F.sum("n_pii_redacted").alias("redacted"),
                F.count_if(F.col("n_pii_redacted") > 0)
                .alias("docs_touched"),
                F.count("*").alias("docs")).first()
            summary["pii_scrub"] = {
                "pii_redacted": int(r["redacted"] or 0),
                "docs_touched": int(r["docs_touched"] or 0),
                "docs": int(r["docs"])}

    if args.clean_text:
        # Unicode normalization (CRLF fold, control strip, NFC,
        # whitespace collapse): same chainable-schema + summary
        # contract as --pii-scrub.
        from pyspark.sql import functions as F

        from ocr_spark.operators import scrub
        committed = table.read(spark)
        if committed is not None:
            cleaned = scrub.clean_text(committed,
                                       text_col="extracted_text")
            cleaned.write.mode("overwrite").parquet(
                f"{args.clean_text}/cleaned")
            back = spark.read.parquet(f"{args.clean_text}/cleaned")
            r = back.agg(
                F.sum("n_chars_removed").alias("chars_removed"),
                F.count_if(F.col("n_chars_removed") != 0)
                .alias("docs_touched"),
                F.count("*").alias("docs")).first()
            summary["clean_text"] = {
                "chars_removed": int(r["chars_removed"] or 0),
                "docs_touched": int(r["docs_touched"] or 0),
                "docs": int(r["docs"])}

    if args.c4_filter:
        # C4 heuristic cleanup (Raffel et al. 2020): per-url signals
        # persist next to the filtered corpus so a dropped page is
        # always explainable — same contract as --quality-filter. The
        # filtered corpus carries the RETAINED lines (C4 rewrites
        # pages, not just gates them).
        from ocr_spark.operators import textstats
        committed = table.read(spark)
        if committed is not None:
            bad = tuple(w.strip().lower()
                        for w in (args.c4_bad_words or "").split(",")
                        if w.strip())
            stats = textstats.c4_stats(
                committed.select("url", "extracted_text"),
                text_col="extracted_text", id_col="url", bad_words=bad)
            stats.drop("kept_text").write.mode("overwrite").parquet(
                f"{args.c4_filter}/signals")
            filtered = textstats.c4_filter(
                committed, text_col="extracted_text", id_col="url",
                bad_words=bad)
            filtered.write.mode("overwrite").parquet(
                f"{args.c4_filter}/filtered")
            n_docs = committed.count()
            n_kept = spark.read.parquet(
                f"{args.c4_filter}/filtered").count()
            summary["c4_filter"] = {
                "docs": n_docs, "kept": n_kept,
                "dropped": n_docs - n_kept,
                "bad_words": len(bad)}

    if args.token_sample:
        # Deterministic token-budget subcorpus (the last curation step
        # before training-mix assembly): sample + report persist, the
        # report rides the summary.
        from ocr_spark.operators import sampling
        committed = table.read(spark)
        if committed is not None:
            sample, report = sampling.token_budget_sample(
                committed, args.token_budget,
                text_col="extracted_text", id_col="url",
                salt=args.sample_salt, return_report=True)
            sample.write.mode("overwrite").parquet(
                f"{args.token_sample}/sample")
            report.write.mode("overwrite").parquet(
                f"{args.token_sample}/report")
            r = spark.read.parquet(f"{args.token_sample}/report").first()
            summary["token_sample"] = {
                "budget": args.token_budget,
                "salt": args.sample_salt,
                **{k: int(r[k]) for k in ("total_docs", "total_tokens",
                                          "kept_docs", "kept_tokens")}}

    if args.mixture:
        # Training-mix assembly over the committed snapshot: the
        # spec'd groups sampled to their token shares, everything
        # else dropped; the per-group report is the audit trail for
        # under-filled groups (never silently rebalanced).
        from ocr_spark.operators import sampling
        committed = table.read(spark)
        if committed is not None:
            group_col = args.mix_group
            if group_col not in committed.columns:
                raise ValueError(
                    f"--mix-group {group_col!r} is not a column of the "
                    f"committed table ({committed.columns})")
            sample, report = sampling.mixture_sample(
                committed, _parse_mix_weights(args.mix_weights),
                args.mix_budget,
                group_col=group_col, text_col="extracted_text",
                id_col="url", salt=args.sample_salt,
                return_report=True)
            sample.write.mode("overwrite").parquet(
                f"{args.mixture}/sample")
            report.write.mode("overwrite").parquet(
                f"{args.mixture}/report")
            rep = spark.read.parquet(f"{args.mixture}/report").collect()
            summary["mixture"] = {
                "budget": args.mix_budget, "salt": args.sample_salt,
                "groups": {r[group_col]: {
                    "budget_tokens": int(r["budget_tokens"]),
                    "kept_docs": int(r["kept_docs"]),
                    "kept_tokens": int(r["kept_tokens"])} for r in rep}}

    if args.curate:
        # The whole curation recipe as ONE job: scalar gates in one
        # pipeline, set-dependent stages over the shrinking survivor
        # set (operators/curate.py). Decisions persist first and the
        # funnel/survivors derive from the PERSISTED decisions, so the
        # accounting always describes exactly the rows on disk.
        from pyspark.sql import functions as F

        from ocr_spark.operators import curate as curate_ops
        committed = table.read(spark)
        if committed is not None:

            def _mat(d, name):
                # Durable stage boundary (also keeps the clean-text
                # pandas UDF fed from a bare parquet column — the
                # python-exchange projection pathology).
                p = f"{args.curate}/stage_{name}"
                d.write.mode("overwrite").parquet(p)
                return spark.read.parquet(p)

            bench = (spark.read.parquet(args.benchmark)
                     if args.benchmark else None)
            bad_words = tuple(
                w.strip() for w in (args.c4_bad_words or "").split(",")
                if w.strip())
            keep_langs = tuple(c.strip() for c in args.lang_keep.split(",")
                               if c.strip())
            res = curate_ops.curate(
                committed, text_col="extracted_text", id_col="url",
                keep_langs=keep_langs, c4_bad_words=bad_words,
                repair_lines=args.curate_repair,
                max_bucket=args.neardup_max_bucket,
                benchmark=bench, decontam_ngram=args.decontam_ngram,
                decontam_min_hits=args.decontam_min_hits,
                materialize=_mat)
            res["decisions"].write.mode("overwrite").parquet(
                f"{args.curate}/decisions")
            decisions = spark.read.parquet(f"{args.curate}/decisions")
            (decisions.filter("final_keep")
             .select("url", F.col("curated_text").alias("extracted_text"))
             .write.mode("overwrite").parquet(f"{args.curate}/survivors"))
            curate_ops.funnel_counts(
                decisions, with_repair=args.curate_repair,
                with_decontam=bench is not None)\
                .write.mode("overwrite").parquet(f"{args.curate}/funnel")
            summary["curate"] = {
                r["stage"]: {"in": r["docs_in"], "out": r["docs_out"]}
                for r in spark.read.parquet(f"{args.curate}/funnel")
                .orderBy("stage_idx").collect()}

    if args.compact:
        # After ingest + curation: fold the accrued per-run dirs into
        # one. On a no-op ingest the table may still be worth
        # compacting (that's the point of a standalone maintenance
        # invocation), but an EMPTY table has nothing to rewrite.
        head = table.current_snapshot()
        if head is None:
            summary["compact"] = {"skipped": "empty table"}
        elif len(head["data_dirs"]) == 1:
            summary["compact"] = {"skipped": "already one data dir"}
        else:
            from pyspark.sql import functions as F
            n_dirs = len(head["data_dirs"])
            snap = table.compact(
                spark, run_id=f"compact-{head['sequence'] + 1:06d}",
                num_partitions=args.compact_partitions)
            files = (table.read(spark).select(F.input_file_name())
                     .distinct().count())
            summary["compact"] = {"dirs_before": n_dirs,
                                  "files_after": files,
                                  "rows": snap["committed_rows"],
                                  "sequence": snap["sequence"]}

    if args.expire_keep is not None:
        summary["expire"] = table.expire_snapshots(
            keep_last=args.expire_keep)

    print(json.dumps(summary))
    return summary


if __name__ == "__main__":
    main()
