"""spark-submit entrypoint (north_rule: deployed via spark-submit
--py-files on multi-executor clusters).

Package + launch:

    zip -r /tmp/ocr_spark.zip ocr_spark
    spark-submit --master <cluster> --py-files /tmp/ocr_spark.zip \\
        ocr_spark/job.py --input /data/pages.parquet \\
        --table /data/extracted --metrics /data/metrics

One invocation runs these steps, each only when asked, in this fixed
order:

1. --rollback moves the table head back to an earlier snapshot.
2. Ingest (--input, --warc or --synth) is a resumable pass over the
   input: an anti-join against the snapshot manifest skips the urls
   already committed, salted mapInArrow extraction runs, the snapshot
   commits atomically and the run's per-partition metrics are appended.
   Re-running after a crash redoes only uncommitted work; re-running
   after success is a no-op. Passing --run-id of an already-committed
   run is refused (it would orphan that run's data).
3. --outlinks reads the link layer of the INPUT pages.
4. The stages of ``_STAGES``, in table order. They all read ONE
   committed snapshot, taken once after ingest, and none of them writes
   the table, so all of them see the same rows (--dedup-apply also
   reads the pairs --neardup persisted just before it). Each persists
   its outputs under its own DIR and adds one summary entry named after
   its flag.
5. --compact, then --expire-keep: catalog maintenance. Maintenance may
   run with no input source at all.

The summary JSON is printed and returned. An option that only a step
reads is a usage error unless that step runs (``_CONSUMERS``); per-flag
behaviour is in --help.

Configuration (shuffle partitions, AQE, Arrow batch size, memory)
comes from spark-submit --conf on a real cluster; launched standalone
(python ocr_spark/job.py) it falls back to the local build_session
defaults so the same file works in tests.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F


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


def _parser() -> argparse.ArgumentParser:
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
    p.add_argument("--neardup", default=None, metavar="DIR",
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
                        "and --curate keep (default: en)")
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
                   help="comma-separated bad-word list for the C4 page "
                        "gate of --c4-filter and --curate (the paper's "
                        "LDNOOBW list is external "
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
                        "--decontam and --curate")
    p.add_argument("--decontam-ngram", type=int, default=13,
                   help="shingle width in tokens for --decontam and "
                        "--curate (default 13, the GPT-3/Pile setting)")
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
    p.add_argument("--substr-sample", type=int, default=8,
                   help="content-defined anchor sampling modulus: keep "
                        "only spans whose start token hashes to 0 mod "
                        "this. Default 8: dup_fraction becomes a "
                        "sampled ESTIMATE (a duplicated run of g spans "
                        "goes unsampled with probability ~(1-1/8)^g, "
                        "~0.2%% for a 2n-token span) and the wall drops "
                        "~10x — exact mode (1) did not finish at "
                        "160k-doc scale in 560s where mod=8 took 16s. "
                        "Pass 1 to count every span exactly on corpora "
                        "small enough to afford it")
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
    return p


_SOURCES = ("input", "warc", "synth")

#: Every option that only some steps read, mapped to the flags of those
#: steps. One rule covers them all: an option set away from its parser
#: default while none of its steps runs is a usage error, because it
#: would otherwise be silently ignored.
_CONSUMERS = {
    "metrics": _SOURCES, "run_id": _SOURCES, "partition_by": _SOURCES,
    "partitions": _SOURCES, "synth_profile": ("synth",),
    "neardup_method": ("neardup",), "embeddings": ("neardup",),
    "neardup_max_bucket": ("neardup", "curate"),
    "gopher_full": ("quality_filter",),
    "shard_tokens": ("shard",),
    "lang_keep": ("lang_filter", "curate"),
    "domain_block": ("domain_filter",), "domain_cap": ("domain_filter",),
    "robots_txt": ("robots_filter",), "robots_agent": ("robots_filter",),
    "token_budget": ("token_sample",),
    "sample_salt": ("token_sample", "mixture"),
    "mix_weights": ("mixture",), "mix_budget": ("mixture",),
    "mix_group": ("mixture",),
    "lm_ref": ("lm_score",), "lm_buckets": ("lm_score",),
    "lm_max_bits": ("lm_score",),
    "c4_bad_words": ("c4_filter", "curate"),
    "benchmark": ("decontam", "curate"),
    "decontam_ngram": ("decontam", "curate"),
    "decontam_min_hits": ("decontam", "curate"),
    "substr_ngram": ("substr_dedup",), "substr_max_frac": ("substr_dedup",),
    "substr_sample": ("substr_dedup",),
    "clf_pos": ("clf_filter",), "clf_neg": ("clf_filter",),
    "clf_threshold": ("clf_filter",),
    "curate_repair": ("curate",),
    "wet_segments": ("write_wet",),
    "bm25_buckets": ("bm25_index",), "bm25_query": ("bm25_index",),
    "bpe_merges": ("bpe_train",),
    "host_rank_iters": ("outlinks",),
    "compact_partitions": ("compact",),
}

#: Lower bounds of the numeric options (when given).
_MINIMUM = {"domain_cap": 1, "bpe_merges": 1, "bm25_buckets": 1,
            "host_rank_iters": 1, "wet_segments": 1, "decontam_ngram": 2,
            "decontam_min_hits": 1, "substr_ngram": 2, "substr_sample": 1}


def _csv(spec: str | None) -> list[str]:
    return [x.strip() for x in (spec or "").split(",") if x.strip()]


def _parse(argv):
    p = _parser()
    args = p.parse_args(argv)

    def flag(dest):
        return "--" + dest.replace("_", "-")

    def is_set(dest):
        return getattr(args, dest) != p.get_default(dest)

    has_source = (args.input or args.warc or args.synth is not None)
    has_maintenance = (args.rollback is not None or args.compact
                       or args.expire_keep is not None)
    if not has_source and not has_maintenance:
        p.error("need an input source (--input/--warc/--synth) or a "
                "maintenance op (--rollback/--compact/--expire-keep)")
    for dest, readers in _CONSUMERS.items():
        if is_set(dest) and not any(is_set(r) for r in readers):
            p.error(f"{flag(dest)} only applies with "
                    + " or ".join(map(flag, readers)))
    for dest, lo in _MINIMUM.items():
        if getattr(args, dest) is not None and getattr(args, dest) < lo:
            p.error(f"{flag(dest)} must be >= {lo}")
    if args.expire_keep is not None and args.expire_keep < 1:
        p.error("--expire-keep must be >= 1 (the head snapshot must "
                "always be retained)")
    if not 0.0 <= args.substr_max_frac <= 1.0:
        p.error("--substr-max-frac must be in [0, 1]")
    if args.dedup_apply and not args.neardup:
        p.error("--dedup-apply requires --neardup (it resolves the "
                "pairs that stage persists)")
    if (args.neardup_method in ("embedding", "semantic")
            and not args.embeddings):
        p.error(f"--neardup-method {args.neardup_method} requires "
                "--embeddings (the snapshot carries no vectors)")
    if (args.domain_filter and not args.domain_block
            and args.domain_cap is None):
        p.error("--domain-filter needs --domain-block and/or "
                "--domain-cap (a gate with no rule would copy the "
                "corpus and report nothing)")
    if args.domain_block:
        entries = [b.strip().lower().lstrip(".")
                   for b in args.domain_block.split(",")]
        bad = [b for b in entries if not b or "/" in b or ":" in b]
        if bad:
            p.error(f"--domain-block entries must be bare hosts "
                    f"(no scheme/port/path): {bad}")
    if args.robots_filter and not args.robots_txt:
        p.error("--robots-filter needs --robots-txt (the per-host "
                "robots.txt parquet)")
    if args.outlinks and not has_source:
        p.error("--outlinks reads the INPUT pages' html and needs an "
                "input source (--input/--warc/--synth)")
    if args.mixture:
        if not (args.mix_weights and args.mix_budget):
            p.error("--mixture requires --mix-weights and --mix-budget")
        try:
            _parse_mix_weights(args.mix_weights)
        except ValueError:
            p.error("--mix-weights must be a comma list of g=w pairs "
                    "with non-negative weights and a positive sum")
    if args.token_sample and args.token_budget is None:
        p.error("--token-sample requires --token-budget")
    if args.decontam and not args.benchmark:
        p.error("--decontam requires --benchmark (contamination is "
                "defined relative to an eval corpus)")
    if args.clf_filter and not (args.clf_pos and args.clf_neg):
        p.error("--clf-filter requires --clf-pos and --clf-neg "
                "(the classifier is trained from labeled examples)")
    from ocr_spark.operators import textstats
    known = (set(textstats.LANG_STOPWORDS)
             | set(textstats.SCRIPT_RANGES) | {"und"})
    keep = _csv(args.lang_keep)
    bad = [c for c in keep if c not in known]
    if not keep or bad:
        p.error(f"--lang-keep must name lang_id codes "
                f"({', '.join(sorted(known))}); got "
                f"{bad or '(empty)'} — an unmatched gate would "
                f"silently delete the whole corpus")
    return args


def _persist(df, path):
    """Write ``df`` to ``path`` and return the table read back, so what
    follows reads the persisted rows instead of re-running the lineage."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _gate(committed, kept, out_dir) -> dict:
    """Persist a gate's surviving corpus under ``{out_dir}/filtered``
    and count it against the committed snapshot."""
    n_kept = _persist(kept, f"{out_dir}/filtered").count()
    n_docs = committed.count()
    return {"docs": n_docs, "kept": n_kept, "dropped": n_docs - n_kept}


def _outlinks(spark, args, input_df) -> dict:
    # WAT-style link layer next to the text extraction: the link table
    # comes from the INPUT pages (html never reaches the committed text
    # table), the host graph and rank from the persisted links — so
    # host_rank reads parquet, not a re-extraction.
    from ocr_spark.operators import webgraph
    if "html" not in input_df.columns or "url" not in input_df.columns:
        raise ValueError(
            "--outlinks needs (url, html) on the input source; "
            f"got columns {input_df.columns}")
    links = _persist(webgraph.extract_outlinks(
        input_df.select("url", "html"), num_partitions=args.partitions),
        f"{args.outlinks}/links")
    edges = _persist(webgraph.host_edges(links),
                     f"{args.outlinks}/host_edges")
    ranks = _persist(webgraph.host_rank(edges, iters=args.host_rank_iters),
                     f"{args.outlinks}/host_rank")
    return {"links": links.count(),
            "nofollow_links": links.filter("nofollow").count(),
            "host_edges": edges.count(),
            "hosts_ranked": ranks.count()}


def _write_wet(spark, args, committed) -> dict:
    # Publish the extracted corpus back in the crawl's own container
    # format: WET conversion records any downstream WET consumer
    # (including this repo's --warc source) reads unchanged. Executors
    # write the segment files; the driver only persists the
    # num_segments-row manifest. Deterministic bytes (content-addressed
    # segments, sorted rows, mtime-0 gzip) make a re-run or task retry
    # install identical files.
    from ocr_spark.sources import warc
    pages = committed.select("url", "warc_ts",
                             F.col("extracted_text").alias("text"), "lang")
    man = _persist(warc.write_wet(pages, f"{args.write_wet}/segments",
                                  num_segments=args.wet_segments),
                   f"{args.write_wet}/manifest")
    agg = man.agg(F.count("*").alias("segments"),
                  F.sum("n_records").alias("records"),
                  F.sum("n_bytes").alias("bytes"),
                  F.sum("n_skipped").alias("skipped")).first()
    return {k: int(agg[k] or 0)
            for k in ("segments", "records", "bytes", "skipped")}


def _bm25_index(spark, args, committed) -> dict:
    # Inverted-index layer over the committed extraction output:
    # postings/terms partitioned by term-hash bucket (file-level prune at
    # search time), meta as one row. Searches, if asked, run against the
    # on-disk layout — the same path a separate search job would take —
    # never against the in-session frames.
    from ocr_spark.operators import search
    corpus = committed.select("url", F.col("extracted_text").alias("text"))
    search.bm25_write_index(corpus, args.bm25_index,
                            buckets=args.bm25_buckets, id_col="url")
    meta = spark.read.parquet(f"{args.bm25_index}/meta").first()
    out = {"docs": int(meta["n_docs"]),
           "avgdl": round(float(meta["avgdl"] or 0.0), 2),
           "buckets": args.bm25_buckets}
    if args.bm25_query:
        queries = spark.createDataFrame(list(enumerate(args.bm25_query)),
                                        "query_id int, query_text string")
        hits = search.bm25_search_index(
            spark, args.bm25_index, queries, k=10,
            buckets=args.bm25_buckets, id_col="url")
        out["queries"] = len(args.bm25_query)
        out["hits"] = _persist(hits, f"{args.bm25_index}/hits").count()
    return out


def _bpe_train(spark, args, committed) -> dict:
    # Tokenizer layer: the merge table is the persistable artifact (what
    # a training run ships alongside the corpus); the encode pass runs
    # the Arrow production path — the expression encoder is for bounded
    # oracle-able tables, not 256-merge jobs.
    from ocr_spark.operators import bpe
    corpus = committed.select("url", F.col("extracted_text").alias("text"))
    merges = bpe.bpe_train(corpus, num_merges=args.bpe_merges, id_col="url")
    bpe.merges_df(spark, merges).write.mode("overwrite").parquet(
        f"{args.bpe_train}/merges")
    enc = _persist(bpe.bpe_encode_arrow(corpus, merges, id_col="url")
                   .select("url", "n_bpe_tokens"),
                   f"{args.bpe_train}/encoded")
    agg = enc.agg(F.count("*").alias("docs"),
                  F.sum("n_bpe_tokens").alias("toks")).first()
    return {"merges": len(merges), "docs_encoded": int(agg["docs"]),
            "bpe_tokens": int(agg["toks"] or 0)}


def _neardup(spark, args, committed) -> dict:
    # The hot-bucket cap drops degenerate buckets (dedup.cap_buckets); a
    # capped run must SAY what it capped, so the drop counters are
    # persisted next to the pairs and surfaced in the summary. Every
    # pair generator feeds the same pairs/resolve/apply tail — they
    # share the (id_a, id_b) contract and the one-row bucket_report
    # shape.
    from ocr_spark.operators import dedup
    coverage = {}

    def _embedding_sidecar(d):
        # The committed snapshot carries no vectors; an embeddings
        # sidecar table joins in by url (semi-join so uncommitted or
        # stale vectors never create pairs; one row per url so an
        # append-built sidecar can't fan pairs out). Coverage is
        # counted: docs the sidecar MISSES can never pair, and a silent
        # gap would violate this stage's never-silent contract.
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
            _embedding_sidecar(d), id_col="url", vec_col="embedding",
            max_bucket=args.neardup_max_bucket, return_report=True)

    def _semantic_pairs(d):
        # SemDeDup (Abbas et al. 2023): learned k-means cells instead of
        # LSH buckets; same sidecar contract and the same (id_a, id_b) +
        # bucket_report shape downstream.
        from ocr_spark.operators import similarity
        return similarity.semantic_dedup_pairs(
            _embedding_sidecar(d), id_col="url", vec_col="embedding",
            max_cell=args.neardup_max_bucket, return_report=True)

    generators = {
        "minhash": lambda d: dedup.minhash_lsh_pairs(
            d, text_col="extracted_text", id_col="url", hash_mode="poly",
            max_bucket=args.neardup_max_bucket, return_report=True),
        "simhash": lambda d: dedup.simhash_pairs(
            d, text_col="extracted_text", id_col="url",
            max_bucket=args.neardup_max_bucket, return_report=True),
        "ngram": lambda d: dedup.ngram_jaccard_pairs(
            d, text_col="extracted_text", id_col="url",
            max_bucket=args.neardup_max_bucket, return_report=True),
        "embedding": _embedding_pairs,
        "semantic": _semantic_pairs,
    }
    pairs, report = generators[args.neardup_method](
        committed.select("url", "extracted_text"))
    pairs = _persist(pairs, f"{args.neardup}/pairs")
    rep = _persist(report, f"{args.neardup}/bucket_report").first()
    return {"method": args.neardup_method, "pairs": pairs.count(),
            **coverage,
            **{k: int(rep[k]) for k in
               ("n_buckets", "max_bucket_size", "n_hot_buckets",
                "rows_dropped", "max_bucket")}}


def _dedup_apply(spark, args, committed) -> dict:
    # Pairs are analytics; DECISIONS shrink the corpus: components ->
    # one survivor per cluster -> anti-join the losers out. Both tables
    # persist so a downstream job (or a resumed one) applies the same
    # decisions.
    from ocr_spark.operators import dedup
    pairs = spark.read.parquet(f"{args.neardup}/pairs")
    resolved = _persist(dedup.dedup_resolve(pairs, docs=committed,
                                            id_col="url"),
                        f"{args.dedup_apply}/resolved")
    survivors = _persist(dedup.dedup_apply(committed, resolved,
                                           id_col="url"),
                         f"{args.dedup_apply}/survivors")
    n_docs = committed.count()
    n_kept = survivors.count()
    return {"docs": n_docs, "survivors": n_kept, "dropped": n_docs - n_kept,
            "clusters": resolved.filter("keep").count()}


def _quality_filter(spark, args, committed) -> dict:
    # Gopher-style repetition gate (textstats; Rae et al. 2021
    # thresholds): the signals table persists next to the filtered
    # corpus so a dropped page is always explainable.
    from ocr_spark.operators import textstats
    rep = (textstats.repetition_stats_full if args.gopher_full
           else textstats.repetition_stats)
    stats = _persist(rep(committed.select("url", "extracted_text"),
                         text_col="extracted_text", id_col="url"),
                     f"{args.quality_filter}/signals")
    kept = committed.join(stats.filter("keep").select("url"),
                          on="url", how="left_semi")
    return _gate(committed, kept, args.quality_filter)


def _lang_filter(spark, args, committed) -> dict:
    # Language gate (the standard first curation stage of a webtext
    # pipeline — CCNet/Gopher both lead with it): per-url signals
    # persist next to the filtered corpus so a dropped page is always
    # explainable, same contract as --quality-filter.
    from ocr_spark.operators import textstats
    keep_langs = _csv(args.lang_keep)
    # with_lang_guess, not the Column form: the landed token array
    # evaluates the normalize+split once per document instead of ~L^2
    # times (textstats.lang_id PERF WARNING).
    signals = _persist(textstats.with_lang_guess(committed, "extracted_text")
                       .select("url", "lang_guess"),
                       f"{args.lang_filter}/signals")
    kept = committed.join(
        signals.filter(F.col("lang_guess").isin(keep_langs)).select("url"),
        on="url", how="left_semi")
    return {"keep": keep_langs, **_gate(committed, kept, args.lang_filter)}


def _shard(spark, args, committed) -> dict:
    # Deterministic fixed-token training shards (the layout training
    # loaders consume): Hive-partitioned shard=K/ dirs + a per-shard
    # (docs, tokens) manifest. Reproducible from (--shard-tokens,
    # salt=0) alone.
    from ocr_spark.operators import sampling
    sampling.write_token_shards(committed, args.shard, args.shard_tokens,
                                text_col="extracted_text", id_col="url")
    rows = spark.read.parquet(f"{args.shard}/_manifest")\
        .orderBy("shard").collect()
    return {"tokens_per_shard": args.shard_tokens, "n_shards": len(rows),
            "total_tokens": sum(int(r["tokens"]) for r in rows),
            "total_docs": sum(int(r["docs"]) for r in rows)}


def _decontam(spark, args, committed) -> dict:
    # Benchmark decontamination (Brown et al. 2020 Appendix C): the
    # per-url hit counts persist next to the decontaminated corpus so a
    # dropped page is always explainable.
    from ocr_spark.operators import decontam
    hits = _persist(decontam.contamination(
        committed, spark.read.parquet(args.benchmark),
        n=args.decontam_ngram, text_col="extracted_text", id_col="url",
        bench_text_col="text"), f"{args.decontam}/hits")
    bad = hits.filter(F.col("hit_count") >= args.decontam_min_hits)
    kept = committed.join(bad.select("url"), on="url", how="left_anti")
    return {"ngram": args.decontam_ngram,
            "min_hits": args.decontam_min_hits,
            **_gate(committed, kept, args.decontam),
            "contaminated": bad.count()}


def _substr_dedup(spark, args, committed) -> dict:
    # Intra-corpus exact-substring dedup (Lee et al. 2021): keep-first
    # by url; the per-url span stats persist next to the survivor
    # corpus.
    from ocr_spark.operators import decontam
    stats = _persist(decontam.substring_duplication(
        committed, n=args.substr_ngram, text_col="extracted_text",
        id_col="url", sample_mod=args.substr_sample),
        f"{args.substr_dedup}/spans")
    bad = stats.filter(F.col("dup_fraction") > args.substr_max_frac)
    kept = committed.join(bad.select("url"), on="url", how="left_anti")
    return {"ngram": args.substr_ngram, "max_frac": args.substr_max_frac,
            "sample_mod": args.substr_sample,
            **_gate(committed, kept, args.substr_dedup)}


def _clf_filter(spark, args, committed) -> dict:
    # Model-based quality filtering (DCLM/FineWeb-style): the
    # closed-form NB model trains on the labeled sidecars, every
    # committed doc's score persists next to the filtered corpus.
    from ocr_spark.operators import qualityclf

    def examples(path):
        # Sidecar examples carry 'text'; the snapshot carries
        # 'extracted_text' — fold both onto the snapshot's name.
        return spark.read.parquet(path).select(
            F.col("text").alias("extracted_text"))

    scores = _persist(qualityclf.nb_quality(
        committed, examples(args.clf_pos), examples(args.clf_neg),
        text_col="extracted_text", id_col="url"),
        f"{args.clf_filter}/scores")
    kept = committed.join(
        scores.filter(F.col("mean_llr") >= args.clf_threshold)
        .select("url"), on="url", how="left_semi")
    return {"threshold": args.clf_threshold,
            **_gate(committed, kept, args.clf_filter)}


def _domain_filter(spark, args, committed) -> dict:
    # Per-domain curation (RefinedWeb-style cap + C4-style blocklist):
    # the per-host profile persists next to the gated corpus so a
    # dropped domain is always explainable.
    from ocr_spark.operators import domains
    blocked = _csv(args.domain_block)
    stats = _persist(domains.domain_stats(committed, url_col="url",
                                          text_col="extracted_text"),
                     f"{args.domain_filter}/stats")
    gated = committed
    if blocked:
        gated = domains.domain_filter(gated, blocked)
    if args.domain_cap is not None:
        gated = domains.domain_cap(gated, args.domain_cap)
    gate = _gate(committed, gated, args.domain_filter)
    return {"hosts": stats.count(), "blocked": blocked,
            "cap": args.domain_cap, **gate}


def _robots_filter(spark, args, committed) -> dict:
    # Crawl-permission gate (RFC 9309): the parsed rule table persists
    # next to the allowed corpus so every dropped url is explainable by
    # the rule row that blocked it.
    from ocr_spark.operators import domains
    robots = spark.read.parquet(args.robots_txt)
    rules = _persist(domains.robots_rules(robots, agent=args.robots_agent),
                     f"{args.robots_filter}/rules")
    allowed = (domains.crawl_gate(committed, rules)
               .filter(F.col("crawl_allowed")).drop("crawl_allowed"))
    gate = _gate(committed, allowed, args.robots_filter)
    # The same robots table also names each host's sitemaps (RFC 9309
    # 'other records') — the discovery edge the frontier fetches next;
    # persisted alongside the rules.
    maps = _persist(domains.robots_sitemaps(robots),
                    f"{args.robots_filter}/sitemaps")
    return {"agent": args.robots_agent,
            "hosts_with_rules": rules.select("host").distinct().count(),
            "rules": rules.count(), "sitemaps_discovered": maps.count(),
            **gate}


def _line_dedup(spark, args, committed) -> dict:
    # Corpus-level boilerplate line removal (CCNet-style): cleaned text
    # + per-doc removal counts persist; the one-row report rides the
    # summary.
    from ocr_spark.operators import textstats
    cleaned = textstats.line_dedup(committed.select("url", "extracted_text"),
                                   text_col="extracted_text", id_col="url")
    # line_dedup's groupBy output carries only (url, cleaned text,
    # n_lines_removed); re-joining the committed row keeps every
    # metadata column, so {dir}/cleaned has the SAME schema contract as
    # --quality-filter's {dir}/filtered and downstream curation stages
    # can chain over it. The committed side deduplicates on url first:
    # line_dedup emits ONE row per url, and a within-run duplicate url
    # in the snapshot would otherwise fan the cleaned row back out
    # (duplicate corpus rows + double-counted counters).
    full = (committed.dropDuplicates(["url"])
            .drop("extracted_text").join(cleaned, "url"))
    # Counters aggregate from the PERSISTED parquet instead of re-running
    # the whole explode/join/reassembly lineage a second time; only the
    # hot-line count re-derives its reassembly-free aggregation.
    r = _persist(full, f"{args.line_dedup}/cleaned").agg(
        F.sum("n_lines_removed").alias("lines_removed"),
        F.count_if(F.col("n_lines_removed") > 0).alias("docs_touched"))\
        .first()
    n_hot = textstats.hot_line_keys(
        committed.select("url", "extracted_text"),
        text_col="extracted_text", id_col="url").count()
    return {"lines_removed": int(r["lines_removed"] or 0),
            "docs_touched": int(r["docs_touched"] or 0),
            "n_hot_lines": int(n_hot)}


def _lm_score(spark, args, committed) -> dict:
    # CCNet-style LM quality scoring: per-url bits/char signals persist
    # (and optionally the <=threshold corpus).
    from ocr_spark.operators import lmscore
    if args.lm_ref:
        ref = spark.read.parquet(args.lm_ref)
        ref_col = "extracted_text" if "extracted_text" in ref.columns \
            else "text"
    else:
        ref, ref_col = committed, "extracted_text"
    model = lmscore.train_char_lm(ref, text_col=ref_col)
    signals = _persist(lmscore.lm_score(committed, model,
                                        text_col="extracted_text",
                                        id_col="url"),
                       f"{args.lm_score}/signals")
    r = signals.agg(
        F.count("*").alias("docs"),
        F.round(F.avg("bits_per_char"), 3).alias("mean_bits"),
        F.round(F.max("bits_per_char"), 3).alias("max_bits")).first()
    out = {"docs": int(r["docs"]), "vocab": model["vocab"],
           "mean_bits_per_char": float(r["mean_bits"] or 0.0),
           "max_bits_per_char": float(r["max_bits"] or 0.0)}
    if args.lm_max_bits is not None:
        kept = committed.join(
            signals.filter(F.col("bits_per_char") <= args.lm_max_bits)
            .select("url"), on="url", how="left_semi")
        out["kept"] = _persist(kept, f"{args.lm_score}/filtered").count()
        out["dropped"] = out["docs"] - out["kept"]
    if args.lm_buckets:
        # CCNet head/middle/tail split over the same signals
        # (per-language when the snapshot carries lang); sketch-based
        # cutoffs — the corpus-scale path.
        lang_col = "lang" if "lang" in committed.columns else None
        scored = (signals.join(committed.select("url", "lang"), "url")
                  if lang_col else signals)
        buckets = _persist(lmscore.ccnet_buckets(scored, lang_col=lang_col),
                           f"{args.lm_score}/buckets")
        out["buckets"] = {
            b["bucket"] or "unscored": b["n"] for b in
            buckets.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
    return out


def _pii_scrub(spark, args, committed) -> dict:
    # Dolma-style PII redaction (operators/scrub.py): the scrubbed
    # corpus keeps the committed schema plus the per-url counter, so
    # curation stages chain over it; totals ride the summary.
    from ocr_spark.operators import scrub
    r = _persist(scrub.pii_scrub(committed, text_col="extracted_text"),
                 f"{args.pii_scrub}/scrubbed").agg(
        F.sum("n_pii_redacted").alias("redacted"),
        F.count_if(F.col("n_pii_redacted") > 0).alias("docs_touched"),
        F.count("*").alias("docs")).first()
    return {"pii_redacted": int(r["redacted"] or 0),
            "docs_touched": int(r["docs_touched"] or 0),
            "docs": int(r["docs"])}


def _clean_text(spark, args, committed) -> dict:
    # Unicode normalization (CRLF fold, control strip, NFC, whitespace
    # collapse): same chainable-schema + summary contract as
    # --pii-scrub.
    from ocr_spark.operators import scrub
    r = _persist(scrub.clean_text(committed, text_col="extracted_text"),
                 f"{args.clean_text}/cleaned").agg(
        F.sum("n_chars_removed").alias("chars_removed"),
        F.count_if(F.col("n_chars_removed") != 0).alias("docs_touched"),
        F.count("*").alias("docs")).first()
    return {"chars_removed": int(r["chars_removed"] or 0),
            "docs_touched": int(r["docs_touched"] or 0),
            "docs": int(r["docs"])}


def _c4_filter(spark, args, committed) -> dict:
    # C4 heuristic cleanup (Raffel et al. 2020): per-url signals persist
    # next to the filtered corpus so a dropped page is always
    # explainable. The filtered corpus carries the RETAINED lines (C4
    # rewrites pages, not just gates them).
    from ocr_spark.operators import textstats
    bad = tuple(w.lower() for w in _csv(args.c4_bad_words))
    textstats.c4_stats(committed.select("url", "extracted_text"),
                       text_col="extracted_text", id_col="url",
                       bad_words=bad)\
        .drop("kept_text").write.mode("overwrite").parquet(
            f"{args.c4_filter}/signals")
    filtered = textstats.c4_filter(committed, text_col="extracted_text",
                                   id_col="url", bad_words=bad)
    return {**_gate(committed, filtered, args.c4_filter),
            "bad_words": len(bad)}


def _token_sample(spark, args, committed) -> dict:
    # Deterministic token-budget subcorpus (the last curation step
    # before training-mix assembly): sample + report persist, the
    # report rides the summary.
    from ocr_spark.operators import sampling
    sample, report = sampling.token_budget_sample(
        committed, args.token_budget, text_col="extracted_text",
        id_col="url", salt=args.sample_salt, return_report=True)
    sample.write.mode("overwrite").parquet(f"{args.token_sample}/sample")
    r = _persist(report, f"{args.token_sample}/report").first()
    return {"budget": args.token_budget, "salt": args.sample_salt,
            **{k: int(r[k]) for k in ("total_docs", "total_tokens",
                                      "kept_docs", "kept_tokens")}}


def _mixture(spark, args, committed) -> dict:
    # Training-mix assembly over the committed snapshot: the spec'd
    # groups sampled to their token shares, everything else dropped; the
    # per-group report is the audit trail for under-filled groups (never
    # silently rebalanced).
    from ocr_spark.operators import sampling
    group_col = args.mix_group
    if group_col not in committed.columns:
        raise ValueError(
            f"--mix-group {group_col!r} is not a column of the "
            f"committed table ({committed.columns})")
    sample, report = sampling.mixture_sample(
        committed, _parse_mix_weights(args.mix_weights), args.mix_budget,
        group_col=group_col, text_col="extracted_text", id_col="url",
        salt=args.sample_salt, return_report=True)
    sample.write.mode("overwrite").parquet(f"{args.mixture}/sample")
    rep = _persist(report, f"{args.mixture}/report").collect()
    return {"budget": args.mix_budget, "salt": args.sample_salt,
            "groups": {r[group_col]: {
                "budget_tokens": int(r["budget_tokens"]),
                "kept_docs": int(r["kept_docs"]),
                "kept_tokens": int(r["kept_tokens"])} for r in rep}}


def _curate(spark, args, committed) -> dict:
    # The whole curation recipe as ONE job: scalar gates in one
    # pipeline, set-dependent stages over the shrinking survivor set
    # (operators/curate.py). Decisions persist first and the
    # funnel/survivors derive from the PERSISTED decisions, so the
    # accounting always describes exactly the rows on disk.
    from ocr_spark.operators import curate
    bench = spark.read.parquet(args.benchmark) if args.benchmark else None
    res = curate.curate(
        committed, text_col="extracted_text", id_col="url",
        keep_langs=tuple(_csv(args.lang_keep)),
        c4_bad_words=tuple(_csv(args.c4_bad_words)),
        repair_lines=args.curate_repair,
        max_bucket=args.neardup_max_bucket,
        benchmark=bench, decontam_ngram=args.decontam_ngram,
        decontam_min_hits=args.decontam_min_hits,
        # Durable stage boundary (also keeps the clean-text pandas UDF
        # fed from a bare parquet column — the python-exchange
        # projection pathology).
        materialize=lambda d, name: _persist(
            d, f"{args.curate}/stage_{name}"))
    decisions = _persist(res["decisions"], f"{args.curate}/decisions")
    (decisions.filter("final_keep")
     .select("url", F.col("curated_text").alias("extracted_text"))
     .write.mode("overwrite").parquet(f"{args.curate}/survivors"))
    funnel = _persist(curate.funnel_counts(
        decisions, with_repair=args.curate_repair,
        with_decontam=bench is not None), f"{args.curate}/funnel")
    return {r["stage"]: {"in": r["docs_in"], "out": r["docs_out"]}
            for r in funnel.orderBy("stage_idx").collect()}


#: The stages that read the committed snapshot, in run order: a stage
#: runs when its flag is given, and its result is the summary entry
#: under the flag's dest.
_STAGES = (
    ("write_wet", _write_wet),
    ("bm25_index", _bm25_index),
    ("bpe_train", _bpe_train),
    ("neardup", _neardup),
    ("dedup_apply", _dedup_apply),
    ("quality_filter", _quality_filter),
    ("lang_filter", _lang_filter),
    ("shard", _shard),
    ("decontam", _decontam),
    ("substr_dedup", _substr_dedup),
    ("clf_filter", _clf_filter),
    ("domain_filter", _domain_filter),
    ("robots_filter", _robots_filter),
    ("line_dedup", _line_dedup),
    ("lm_score", _lm_score),
    ("pii_scrub", _pii_scrub),
    ("clean_text", _clean_text),
    ("c4_filter", _c4_filter),
    ("token_sample", _token_sample),
    ("mixture", _mixture),
    ("curate", _curate),
)


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
            partition_by=_csv(args.partition_by) or None)

        if args.metrics and result["processed"] > 0:
            out = spark.read.parquet(table.run_dir(run_id))
            partition_metrics(out).write.mode("append").parquet(args.metrics)

        summary.update({"run_id": run_id, **result})
    summary["committed_rows"] = (table.current_snapshot() or {}).get(
        "committed_rows", 0)
    if args.warc:
        summary["warc_records_skipped"] = int(warc_skips.value)

    if args.outlinks:
        summary["outlinks"] = _outlinks(spark, args, input_df)

    stages = [(dest, fn) for dest, fn in _STAGES if getattr(args, dest)]
    committed = table.read(spark) if stages else None
    if committed is not None:
        for dest, fn in stages:
            summary[dest] = fn(spark, args, committed)

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
