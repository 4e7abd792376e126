"""One-shot corpus-curation funnel: the whole public webtext recipe
(PII scrub -> unicode clean -> language gate -> Gopher repetition gate
-> C4 heuristic gate -> exact dedup -> MinHash near-dup resolve ->
optional benchmark decontamination) as ONE composed pipeline with a
per-stage accounting table.

Every stage reuses the committed operator it names (`scrub.pii_scrub`,
`scrub.clean_text`, `textstats.lang_id` / Gopher / C4 expressions,
`dedup.exact_dedup` semantics, `dedup.minhash_lsh_pairs` +
`dedup_resolve`, `decontam.contamination`), so this module adds no new
per-document semantics — only the composition, which is where the
100 TB design choices live:

  * The scalar gates (lang, C4) are computed as COLUMNS in one
    projection over the scrubbed+cleaned text, and Gopher's
    repetition signals join in once — the corpus is NOT re-read per
    stage the way chaining independent filter jobs would (the funnel
    over k gates costs one pipeline, not k scans).
  * Set-dependent stages (exact dedup's keep-first, the near-dup
    component resolve, decontamination) run only on the documents
    still alive when they start, in funnel order — the expensive
    pair-generation stages see the smallest possible corpus.
  * Every decision lands in one per-document DECISIONS frame
    (stage verdict columns, NULL = the document never reached that
    stage), so any dropped page is explainable — the same
    never-silent contract as the individual job stages.
  * ``funnel_counts`` derives the stage table from ONE aggregation
    of the decisions frame (conjunctions of the verdict columns),
    exploded to rows by a pure expression — no per-stage count jobs.

Python-exchange note: `clean_text` is the pipeline's one Arrow pandas
UDF (unicode NFC — Spark has no builtin normalizer), and feeding a
DERIVED expression into a Python-eval node buffers the interpreted
projection through the python row queue (measured 12x — see
scrub.clean_text_col). The scrub stage is therefore MATERIALIZED
before the clean stage via the ``materialize`` hook: localCheckpoint
by default (an in-memory cut, fine for oracle/test scale), a parquet
round-trip in `job.py --curate` (the durable form a resumable job
wants anyway).

This operator is a JOB STEP (like dedup_resolve): building the
decisions frame triggers Spark actions (the near-dup component
resolve is iterative). It is not a lazy per-row transform.

There is no reference twin (the reference service has no corpus-level
operators); the composition follows the published order of public
pipelines (C4, Gopher, CCNet, Dolma, FineWeb: clean -> language ->
quality heuristics -> dedup -> decontaminate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import scrub
from .dedup import dedup_resolve, minhash_lsh_pairs, normalize_text
from .textstats import (
    c4_kept_lines,
    c4_page_gate,
    dedup_lines_in_doc,
    repetition_stats,
    with_lang_guess,
)

#: Funnel stages in published-pipeline order. `repair` appears only
#: with ``repair_lines=True``, `decontam` only when a benchmark frame
#: is supplied.
STAGES = ("input", "scrub", "clean", "repair", "lang", "gopher", "c4",
          "exact_dedup", "neardup", "decontam")


def _default_materialize(df: DataFrame, name: str) -> DataFrame:
    """Cut lineage + materialize between the scrub expressions and the
    clean-text Python node (see module docstring). localCheckpoint is
    executor-memory-backed — right for test/oracle scale; pass a
    parquet round-trip for a real job."""
    return df.localCheckpoint()


def curate(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
           *, keep_langs: tuple[str, ...] = ("en",),
           repair_lines: bool = False,
           c4_bad_words: tuple[str, ...] = (),
           neardup_threshold: float = 0.5,
           hash_mode: str = "poly", max_bucket: int = 1000,
           benchmark: DataFrame | None = None,
           bench_text_col: str = "text",
           decontam_ngram: int = 13, decontam_min_hits: int = 1,
           materialize=_default_materialize) -> dict:
    """Run the full funnel. Returns {"decisions": DataFrame,
    "survivors": DataFrame, "funnel": DataFrame}.

    ``repair_lines=True`` inserts the in-document duplicate-line
    REPAIR stage (``textstats.dedup_lines_in_doc`` — trafilatura's
    per-document dedup option) between clean and the gates: instead of
    the Gopher dup-line gate DROPPING a line-spam page, the repeats are
    removed and the page is re-judged on what remains. The per-doc
    removal count lands in ``n_dup_lines_removed`` (NULL when the
    stage is off).

    ``hash_mode`` defaults to the numpy 'poly' signature path (the
    scale recommendation — Catalyst higher-order functions evaluate
    interpreted, so the expression signatures cost num_perm
    interpreted passes per document); the oracle twins pass 'md5'
    explicitly. The near-dup Jaccard verify follows the mode: exact
    string shingles under 'md5', 31-bit shingle hashes under 'poly'
    (dedup.minhash_lsh_pairs).

    decisions — one row per input document:
      (id_col, n_pii_redacted, n_chars_removed, n_dup_lines_removed,
       lang_guess, lang_ok, gopher_ok, c4_ok, exact_ok, neardup_ok,
       decontam_ok, final_keep, curated_text)
      Verdicts are NULL for stages the document never reached;
      ``curated_text`` is the scrubbed/cleaned/C4-line-filtered text
      every post-clean stage (and the survivor corpus) actually uses.
    survivors — (id_col, text_col) of documents passing every stage.
    funnel — (stage_idx, stage, docs_in, docs_out, docs_dropped),
      one row per stage in STAGES order.
    """
    # -- transforms: scrub, then clean over the MATERIALIZED bare column
    scrubbed = materialize(
        scrub.pii_scrub(df.select(id_col, text_col), text_col=text_col),
        "scrubbed")
    # Materialized too: the scalar-gate projection AND the Gopher
    # bigram aggregation both read the cleaned text — one boundary
    # here halves the NFC pandas-UDF evaluations.
    cleaned = materialize(scrub.clean_text(scrubbed, text_col=text_col),
                          "cleaned")

    # -- optional repair: strip in-document repeated lines so the
    #    Gopher dup-line gate judges the page on its non-boilerplate
    #    remainder. Materialized: the repair's (id, line) window
    #    shuffle would otherwise re-run under both the scalar-gate
    #    projection and the Gopher aggregation below.
    if repair_lines:
        repaired = dedup_lines_in_doc(
            cleaned.select(id_col, text_col),
            text_col=text_col, id_col=id_col)
        cleaned = materialize(
            cleaned.drop(text_col).join(
                repaired.withColumnRenamed(
                    "n_lines_removed", "n_dup_lines_removed"),
                on=id_col),
            "repaired")
    else:
        cleaned = cleaned.withColumn(
            "n_dup_lines_removed", F.lit(None).cast("bigint"))

    # -- scalar gates in ONE projection over the cleaned text
    scalar = (with_lang_guess(cleaned, text_col).select(
        F.col(id_col), "n_pii_redacted", "n_chars_removed",
        "n_dup_lines_removed", "lang_guess", F.col(text_col),
        F.array_join(c4_kept_lines(F.col(text_col)), "\n")
        .alias("_c4_text"))
        .withColumn("c4_ok", c4_page_gate(F.col(text_col), F.col("_c4_text"),
                                          c4_bad_words)["keep"])
        .withColumn("lang_ok", F.col("lang_guess").isin(*keep_langs))
        .drop(text_col))

    # -- Gopher repetition (its bigram aggregation shuffles once) joins in
    rep = repetition_stats(cleaned, text_col=text_col, id_col=id_col)
    dec = scalar.join(
        rep.select(F.col(id_col), F.col("keep").alias("gopher_ok")),
        on=id_col, how="left")
    # Second materialize boundary: everything downstream (exact-dedup
    # grouping, MinHash banding, the iterative component resolve, the
    # funnel aggregation, the decisions write) re-evaluates its inputs
    # per action — without this cut each of those actions would re-run
    # the scrub regexes and the NFC pandas UDF over the full corpus
    # (measured 459s -> ~8s on the 20k-doc bench slice).
    dec = materialize(dec, "signals")
    scalar_keep = (F.col("lang_ok") & F.col("gopher_ok") & F.col("c4_ok"))

    # -- exact dedup (keep-first by min id) among scalar survivors,
    #    over the C4-retained text every later stage sees
    alive = dec.filter(scalar_keep).select(
        F.col(id_col),
        F.md5(normalize_text(F.col("_c4_text")).cast("binary")).alias("_h"))
    owners = alive.groupBy("_h").agg(F.min(id_col).alias("_surv"))
    exact = (alive.join(owners, "_h")
             .select(F.col(id_col),
                     (F.col(id_col) == F.col("_surv")).alias("exact_ok")))
    dec = dec.join(exact, on=id_col, how="left")

    # -- near-dup pairs + component resolve among exact survivors
    nd_docs = (dec.filter("exact_ok")
               .select(F.col(id_col).alias("doc_id"),
                       F.col("_c4_text").alias("text")))
    pairs = minhash_lsh_pairs(nd_docs, threshold=neardup_threshold,
                              hash_mode=hash_mode, max_bucket=max_bucket)
    resolved = dedup_resolve(pairs, docs=nd_docs)
    dec = dec.join(
        resolved.select(F.col("doc_id").alias(id_col),
                        F.col("keep").alias("neardup_ok")),
        on=id_col, how="left")

    # -- optional benchmark decontamination on what is still alive
    if benchmark is not None:
        from .decontam import contamination
        nd_alive = dec.filter("neardup_ok").select(
            F.col(id_col), F.col("_c4_text").alias(text_col))
        hits = contamination(nd_alive, benchmark, n=decontam_ngram,
                             text_col=text_col, id_col=id_col,
                             bench_text_col=bench_text_col)
        flagged = (nd_alive.select(id_col)
                   .join(hits, on=id_col, how="left")
                   .select(F.col(id_col),
                           (F.coalesce(F.col("hit_count"), F.lit(0))
                            < decontam_min_hits).alias("decontam_ok")))
        dec = dec.join(flagged, on=id_col, how="left")
        final = F.col("neardup_ok") & F.col("decontam_ok")
    else:
        # Stage not run: NULL everywhere (schema stays stable).
        dec = dec.withColumn("decontam_ok",
                             F.lit(None).cast("boolean"))
        final = F.col("neardup_ok")

    decisions = (dec.withColumn("final_keep",
                                F.coalesce(final, F.lit(False)))
                 .withColumnRenamed("_c4_text", "curated_text"))
    survivors = (decisions.filter("final_keep")
                 .select(F.col(id_col),
                         F.col("curated_text").alias(text_col)))
    return {"decisions": decisions, "survivors": survivors,
            "funnel": funnel_counts(decisions,
                                    with_repair=repair_lines,
                                    with_decontam=benchmark is not None)}


def funnel_counts(decisions: DataFrame,
                  with_repair: bool = False,
                  with_decontam: bool = False) -> DataFrame:
    """(stage_idx, stage, docs_in, docs_out, docs_dropped) from the
    decisions frame: ONE aggregation computes every stage's survivor
    count as a conjunction of verdict columns (NULL never counts), and
    a pure-expression explode turns the single row into stage rows —
    no per-stage jobs, no window. scrub/clean/repair are transforms
    (drop nothing) and carry the input count through."""
    lang = F.col("lang_ok")
    goph = lang & F.col("gopher_ok")
    c4 = goph & F.col("c4_ok")
    agg = decisions.agg(
        F.count("*").alias("n_input"),
        F.count_if(lang).alias("n_lang"),
        F.count_if(goph).alias("n_gopher"),
        F.count_if(c4).alias("n_c4"),
        F.count_if(F.col("exact_ok")).alias("n_exact"),
        F.count_if(F.col("neardup_ok")).alias("n_neardup"),
        F.count_if(F.col("final_keep")).alias("n_final"))
    names = ["input", "scrub", "clean"]
    outs = ["n_input", "n_input", "n_input"]
    if with_repair:
        names.append("repair")
        outs.append("n_input")
    names += ["lang", "gopher", "c4", "exact_dedup", "neardup"]
    outs += ["n_lang", "n_gopher", "n_c4", "n_exact", "n_neardup"]
    if with_decontam:
        names.append("decontam")
        outs.append("n_final")
    rows = F.array(*[
        F.struct(F.lit(i).alias("stage_idx"), F.lit(nm).alias("stage"),
                 F.col(outs[i - 1] if i else outs[0]).alias("docs_in"),
                 F.col(outs[i]).alias("docs_out"))
        for i, nm in enumerate(names)])
    return (agg.select(F.explode(rows).alias("s"))
            .select("s.stage_idx", "s.stage", "s.docs_in", "s.docs_out",
                    (F.col("s.docs_in") - F.col("s.docs_out"))
                    .alias("docs_dropped")))
