"""spark-submit entry point: prepare a training corpus end-to-end.

    spark-submit --py-files aqcs.zip --driver-memory 48g jobs/corpus_prep.py \
        --docs /path/documents.parquet --out /path/prep [--threshold 0.8]

The composed LLM-training-data pipeline the individual operators build
toward, as ONE job over the documents table:

  0. url-level collapse (when the table carries a url column): keep the
     first-crawled doc per CANONICAL url (functions/url_norm.py —
     scheme/host case, default ports, fragments, tracking params) —
     the cheapest dedup a crawl pipeline runs, before any content pass
  1. drop null/empty-text docs (unusable rows, counted)
  1b. line-level boilerplate removal (opt-in, --line-dedup-df):
     strip lines shared by >= N distinct docs BEFORE content dedup
     (operators/boilerplate.py), so nav/banner/footer lines neither
     ship nor glue unrelated pages into near-dup clusters
  2. exact dedup  — md5 hash-groupBy, keep the minimum doc_id
  3. near-dup dedup — guarded hybrid EDGE search (exact-route sparse
     connectivity certificate within bounded (lang, length-bucket)
     blocks, star-to-rep MinHash-LSH above the cap; O(n) edges even on
     dense template clusters, where the round-5 pair surface emitted
     O(cluster^2) pairs — 11.56M from 50k docs at sf1) ->
     connected components -> keep one representative per cluster
  4. document filters — Gopher dup-line fraction and the composite
     quality score, both pure Catalyst expressions
  5. eval-set decontamination (opt-in, --eval-set): quarantine every
     doc sharing a word n-gram with the evaluation suite
     (operators/mixing.py contamination_report — map-only corpus pass)
  6. PII scrub (opt-in, --scrub-pii): mask emails/phones/IPv4s with
     sentinel tokens before anything is counted or written
     (functions/pii.py — map-only Catalyst regexp pass)
  7. BPE token count — merges trained on a bounded deterministic
     sample of the SURVIVING corpus, exact distributed counts per doc
  8. token-budget mix (opt-in, --token-budget): per-lang deterministic
     hash-ordered prefix until the budget is admitted
     (operators/mixing.py budget_mix — the two-phase distributed
     prefix sum, never a per-stratum window funnel)

Outputs: the filtered corpus under <out>/corpus (with lang_id, quality,
repetition and exact bpe_tokens columns attached), a per-lang budget
table under <out>/budget, and ONE JSON line on stdout with per-stage
counts — the shard-level report a data pipeline records per ingest.

Every stage is the operator the rest of the repo tests and bounds-gates
(operators/dedup.py, operators/components.py, functions/text_stats.py,
functions/bpe.py); this job only composes them.
"""

from __future__ import annotations

import argparse
import json
import os
import sys as _sys

_sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="prepare a training corpus")
    ap.add_argument("--docs", required=True, help="documents parquet path")
    ap.add_argument("--out", required=True, help="output root")
    ap.add_argument("--threshold", type=float, default=0.8,
                    help="near-dup jaccard threshold for keep-one "
                         "(0.8 is the standard dedup setting — Lee et "
                         "al., 'Deduplicating Training Data Makes "
                         "Language Models Better', ACL 2022; lower "
                         "values chain template docs into giant "
                         "clusters and keep-one becomes destructive)")
    ap.add_argument("--block-cap", type=int, default=5_000,
                    help="exact-route block cap of the guarded surface")
    ap.add_argument("--url-col", default="url",
                    help="column holding the document url; when absent "
                         "from the table, the url-collapse stage is a "
                         "counted no-op")
    ap.add_argument("--min-quality", type=float, default=0.5,
                    help="minimum composite quality score")
    ap.add_argument("--max-dup-line-frac", type=float, default=0.30,
                    help="Gopher dup-line fraction cap")
    ap.add_argument("--bpe-vocab", type=int, default=384,
                    help="BPE vocab size for the budget count")
    ap.add_argument("--eval-set", default=None,
                    help="parquet of evaluation docs (text column); "
                         "when given, docs sharing any word n-gram "
                         "with it are quarantined before the budget")
    ap.add_argument("--decontam-ngram", type=int, default=8,
                    help="n-gram length for the decontamination check "
                         "(8-13 word runs per Brown et al. 2020)")
    ap.add_argument("--line-dedup-df", type=int, default=0,
                    help="remove lines appearing in >= N distinct "
                         "docs before content dedup (boilerplate "
                         "pass, operators/boilerplate.py; 0 = off)")
    ap.add_argument("--scrub-pii", action="store_true",
                    help="mask emails/phones/IPv4s with sentinel "
                         "tokens before token counting (map-only "
                         "Catalyst regexp pass, functions/pii.py)")
    ap.add_argument("--token-budget", type=int, default=0,
                    help="per-lang BPE token budget: keep the "
                         "deterministic hash-ordered prefix per lang "
                         "until this many tokens are admitted "
                         "(0 = keep everything)")
    ap.add_argument("--shards", type=int, default=0,
                    help="write the corpus as N token-balanced shards "
                         "(serpentine over exact BPE counts; 0 = no "
                         "sharding)")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from audio_quality_checker_spark.functions.bpe import (
        bpe_token_counts,
        train_bpe,
    )
    from audio_quality_checker_spark.functions.text_stats import (
        lang_id_col,
        quality_features,
        quality_score_col,
        repetition_features,
    )
    from audio_quality_checker_spark.functions.url_norm import (
        canonical_url_col,
    )
    from audio_quality_checker_spark.operators.components import keep_one
    from audio_quality_checker_spark.operators.dedup import (
        jaccard_edges_guarded,
    )
    from audio_quality_checker_spark.session import get_spark, job_description

    spark = get_spark(app_name="aqcs-corpus-prep", cores=args.cores)

    def stage(name: str):
        """Label the stage's Spark jobs (UI and event log)."""
        return job_description(spark, f"corpus_prep: {name}")

    docs = spark.read.parquet(args.docs)
    with stage("0 input"):
        n_input = docs.count()

    # 0. url-level collapse: one doc (min doc_id = first-crawled proxy)
    # per canonical url.  Null/unparseable canonicals are never grouped
    # (a null key would collapse every url-less doc into one survivor).
    if args.url_col in docs.columns:
        cu = docs.select(
            "doc_id", canonical_url_col(args.url_col).alias("__cu")
        )
        u_keep = (
            cu.where(F.col("__cu").isNotNull())
            .groupBy("__cu")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
            .unionByName(cu.where(F.col("__cu").isNull()).select("doc_id"))
        )
        docs = docs.join(u_keep, "doc_id")
        with stage("0 url collapse"):
            n_url = docs.count()
    else:
        n_url = n_input

    # 1. unusable rows
    usable = docs.where(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)
    )
    usable.persist()
    with stage("1 usable"):
        n_usable = usable.count()

    # 1b. line-level boilerplate removal (opt-in, --line-dedup-df):
    # strip lines shared by >= N distinct docs BEFORE content dedup,
    # so nav menus / banners / footers neither survive into training
    # text nor glue unrelated pages into near-dup clusters.  Docs
    # reduced to nothing re-enter the usability gate here.
    if args.line_dedup_df:
        from audio_quality_checker_spark.operators.boilerplate import (
            remove_boilerplate_lines,
        )

        stripped = remove_boilerplate_lines(
            usable, min_doc_freq=args.line_dedup_df
        )
        cleaned = stripped.where(
            F.length(F.trim("text")) > 0
        ).drop("n_lines_removed")
        cleaned.persist()
        with stage("1b line dedup"):
            n_line_cleaned = cleaned.count()
            n_lines_removed = int(
                stripped.agg(F.sum("n_lines_removed")).collect()[0][0] or 0
            )
        usable.unpersist()
        usable = cleaned
    else:
        n_line_cleaned = n_usable
        n_lines_removed = 0

    # 2. exact dedup (hash-groupBy keep-min — one shuffle of (hash, id))
    keep_ids = (
        usable.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    exact = usable.join(keep_ids, "doc_id")
    exact.persist()
    with stage("2 exact dedup"):
        n_exact = exact.count()
    usable.unpersist()

    # 3. near-dup keep-one (guarded EDGE search -> components).  The
    # edge surface spans the same duplicate clusters as the pair list
    # with O(n) edges (per-bucket connectivity certificate + star hot
    # route) — survivors identical wherever the exact route applies,
    # and the 94%-template corpus no longer materializes an
    # O(cluster^2) pair frame just to pick one representative.
    with stage("3 near-dup keep-one"):
        edges = jaccard_edges_guarded(
            exact, threshold=args.threshold, block_cap=args.block_cap
        )
        deduped = keep_one(exact, edges.select("id_a", "id_b"))
        deduped.persist()
        n_dedup = deduped.count()
    edges.unpersist()
    exact.unpersist()

    # 4. document filters — all Catalyst expressions, one pass
    scored = repetition_features(
        quality_features(deduped).withColumn("quality", quality_score_col())
    ).withColumn("lang_id", lang_id_col())
    kept = scored.where(
        (F.col("quality") >= args.min_quality)
        & (
            F.col("dup_line_frac").isNull()
            | (F.col("dup_line_frac") <= args.max_dup_line_frac)
        )
    ).drop("n_chars_q", "punct_ratio", "digit_ratio", "upper_ratio",
           "stopword_ratio", "mean_token_len")
    kept.persist()
    with stage("4 filters"):
        n_kept = kept.count()
    deduped.unpersist()

    # 5. eval-set decontamination (opt-in): quarantine every doc
    # sharing a word n-gram with the eval suite.  Placed after the
    # filters so the map-only contamination pass scans the smallest
    # corpus; left_anti keeps the clean side.
    if args.eval_set:
        from audio_quality_checker_spark.operators.mixing import (
            contamination_report,
        )

        ev = spark.read.parquet(args.eval_set)
        contaminated = contamination_report(
            kept, ev, n=args.decontam_ngram
        ).select("doc_id")
        clean = kept.join(contaminated, "doc_id", "left_anti")
        clean.persist()
        with stage("5 decontamination"):
            n_clean = clean.count()
        kept.unpersist()
        kept = clean
    else:
        n_clean = n_kept

    # 6. PII scrub (opt-in): mask emails/phones/IPs with sentinel
    # tokens BEFORE token counting, so budgets and shards reflect the
    # text that actually ships.  Map-only Catalyst regexp pass
    # (functions/pii.py); the counter records docs that carried PII.
    if args.scrub_pii:
        from audio_quality_checker_spark.functions.pii import (
            pii_count_cols, scrub_pii_col,
        )

        # count on the still-persisted pre-scrub frame, then swap in
        # the scrubbed frame with the materialize-then-release pattern
        # (the later kept.unpersist() must hit the frame that holds
        # the cache)
        had_pii = sum(pii_count_cols("text").values(), F.lit(0)) > 0
        scrubbed = kept.withColumn("text", scrub_pii_col("text"))
        scrubbed.persist()
        with stage("6 pii scrub"):
            n_pii = kept.where(had_pii).count()
            scrubbed.count()
        kept.unpersist()
        kept = scrubbed
    else:
        n_pii = 0

    # 7. exact BPE token counts over the SURVIVING corpus; 8. opt-in
    # per-lang token-budget prefix (the two-phase distributed prefix
    # sum — never a per-stratum window funnel).  ONE counted frame
    # feeds the budget mix, the per-lang budget table, the corpus sink
    # and the shard writer (previously the shards path re-ran the BPE
    # count from scratch).
    with stage("7 bpe train"):
        merges = train_bpe(kept, vocab_size=args.bpe_vocab)
    counted = bpe_token_counts(kept, merges)
    if args.token_budget:
        from audio_quality_checker_spark.operators.mixing import (
            budget_mix,
        )

        counted = budget_mix(
            counted, args.token_budget, "lang", "bpe_tokens"
        ).drop("cum_before")
    counted.persist()
    with stage("7 bpe count"):
        n_final = counted.count()
    kept.unpersist()
    budget = (
        counted.groupBy("lang")
        .agg(
            F.sum("bpe_tokens").alias("total_bpe_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("lang")
    )

    with stage("8 write"):
        if args.shards:
            from audio_quality_checker_spark.operators.sharding import (
                shard_balance_report,
                shard_by_weight,
            )

            sharded = shard_by_weight(counted, args.shards)
            sharded.write.mode("overwrite").partitionBy("shard").parquet(
                f"{args.out}/corpus"
            )
            shard_balance_report(
                spark.read.parquet(f"{args.out}/corpus")
            ).write.mode("overwrite").parquet(f"{args.out}/shard_report")
        else:
            counted.write.mode("overwrite").parquet(f"{args.out}/corpus")
        budget.write.mode("overwrite").parquet(f"{args.out}/budget")
        total_tokens = (
            budget.agg(F.sum("total_bpe_tokens")).collect()[0][0] or 0
        )
    counted.unpersist()

    print(json.dumps({
        "n_input": n_input,
        "n_after_url_dedup": n_url,
        "n_usable": n_usable,
        "n_after_line_dedup": n_line_cleaned,
        "n_boiler_lines_removed": n_lines_removed,
        "n_after_exact_dedup": n_exact,
        "n_after_near_dedup": n_dedup,
        "n_after_filters": n_kept,
        "n_after_decontamination": n_clean,
        "n_docs_pii_masked": n_pii,
        "n_after_budget": n_final,
        "total_bpe_tokens": int(total_tokens),
        "n_bpe_merges": len(merges),
        "out": args.out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
