"""Production entry point: spark-submit training-corpus build job.

The full funnel over an interleaved-spans documents table: extraction →
plain-text flattening → language guess → quality filter → exact-dedup
survivor selection, writing the surviving corpus plus a per-stage funnel
accounting.  Cluster usage::

    zip -r engine.zip paperoni_spark
    spark-submit --py-files engine.zip jobs/corpus_job.py \
        --input  <iceberg-table-or-parquet-path> \
        --output <corpus parquet/iceberg out> \
        --funnel <per-stage accounting table path>

Local smoke (synthesizes the corpus when --input is 'synthetic:N', or
'synthetic:N:START' for a disjoint-id wave)::

    spark-submit --master 'local[8]' --py-files engine.zip \
        jobs/corpus_job.py --input synthetic:500 --output /tmp/corpus

Recurring-crawl incremental build (each wave dedups against the persisted
SimHash index, appends survivors to corpus AND index; retried waves are
accounted no-ops)::

    ... corpus_job.py --input synthetic:300       --output /tmp/c --dedup-index /tmp/ix
    ... corpus_job.py --input synthetic:200:300   --output /tmp/c --dedup-index /tmp/ix --append
"""

from __future__ import annotations

import argparse
import os
import sys
import uuid


def _prepare_index_roots(spark, args, wave: str) -> dict[str, list[str]]:
    """Refuse or prepare the wave's index roots (--dedup-index and, if
    given, --substring-index); returns each root's committed
    ``wave=<id>`` names other than this wave's own.

    Every sink of a wave — corpus segment, funnel segment, INDEX
    segments — is wave=<id>-keyed and written with overwrite, so a
    retried wave with the same --wave-id replays identically from any
    crash point instead of appending duplicates.  Every refusal, for BOTH roots, runs before anything is created or
    deleted: a refusal must leave the indexes as it found them (deleting
    the own segment first would destroy a COMMITTED wave's fingerprints
    on a re-run that is then refused, desyncing corpus and index).  The
    checks only read — the index writes adopt a marker-less root after
    the sinks are written (unmarked, any other family's wave=0 build
    could adopt it).  Then a failed attempt's leftover own
    segments are deleted BEFORE the probes: its fingerprints would pair
    the wave with itself and misclassify every doc as already-ingested,
    and its histogram would count the wave's shingles against the wave
    itself — either way the wave empties.

    The guards: a root holding bare files (e.g. a flat operator-built
    simhash index) would silently skip the probe and mix layouts; a root
    of another index family passes the layout check but would die (or
    mis-probe) on missing columns; a wave id that compact_index folded
    into the merged segment no-ops the own-segment delete, and the probe
    then meets the wave's own fingerprints (shingles) in the merged
    history.  The index writes repeat these guards, but only after the
    sinks are written."""
    from paperoni_spark import fsio

    roots = [(args.dedup_index, "simhash")]
    if args.substring_index is not None:
        roots.append((args.substring_index, "substring_hist"))
    try:
        fsio.assert_append_wave(wave)
        for root, kind in roots:
            fsio.check_wave_segment(spark, root, wave, kind)
    except ValueError as e:
        raise SystemExit(str(e)) from None
    # "an index exists" means committed segments OTHER than this wave's:
    # a first wave that crashed mid-write leaves none, and its retry must
    # take the bootstrap path — not the --append refusal, and not a probe
    # that dies schema-inferring an empty directory
    own = f"wave={wave}"
    committed = {
        root: [w for w in fsio.wave_names(spark, root) if w != own]
        for root, _ in roots
    }
    if committed[args.dedup_index] and not args.append:
        # loud refusal (same convention as write_output's flat-layout
        # guard): overwriting the corpus while the index keeps other
        # waves' fingerprints would reject future docs against content
        # no longer in the corpus
        raise SystemExit(
            "--dedup-index points at an existing index but --append "
            "was not given: a plain overwrite would desynchronize "
            "corpus and index.  Pass --append for a wave, or remove "
            "the index to rebuild from scratch."
        )
    for root, _ in roots:
        fsio.delete_path(spark, os.path.join(root, own))
    return committed


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--funnel", default=None)
    parser.add_argument("--base-url", default="http://example.com/")
    parser.add_argument(
        "--near-dup",
        action="store_true",
        help="insert the SimHash near-dup cluster stage after exact dedup",
    )
    parser.add_argument(
        "--max-hamming",
        type=int,
        default=None,
        help="near-dup Hamming threshold; implies --near-dup",
    )
    parser.add_argument(
        "--substring-clean",
        type=int,
        nargs="?",
        const=-1,
        default=None,
        metavar="N",
        help="rewrite surviving texts removing duplicated >=N-token spans "
        "(Lee-et-al. exact-substring stage; default N when given bare). "
        "Wave-local in incremental mode.",
    )
    parser.add_argument(
        "--dedup-index",
        default=None,
        help="persisted SimHash fingerprint index: the wave is deduped "
        "against it (vs-corpus near-dups rejected) and its survivors' "
        "fingerprints are appended after the sink write — the recurring-"
        "crawl incremental corpus build.  First run bootstraps the index.",
    )
    parser.add_argument(
        "--substring-index",
        default=None,
        help="persisted ExactSubstr shingle-histogram index: the wave is "
        "cleaned against index ∪ wave (CROSS-wave duplicated spans, the "
        "gap wave-local --substring-clean leaves) and the written text's "
        "histogram is appended after the sink write.  Requires "
        "--dedup-index (the incremental wave machinery); implies "
        "substring cleaning.  First run bootstraps the index.",
    )
    parser.add_argument(
        "--model-filter",
        type=float,
        nargs="?",
        const=None,
        default=False,
        metavar="THRESHOLD",
        help="add the hashed-linear model quality gate after the rule "
        "filter (rejected:model_quality funnel stage); optional logit "
        "threshold overrides the default",
    )
    parser.add_argument(
        "--append",
        action="store_true",
        help="append to an existing corpus output instead of overwriting "
        "(the wave shape; combine with --dedup-index)",
    )
    parser.add_argument(
        "--wave-id",
        default=None,
        help="stable id for this wave's output segment (incremental mode "
        "writes output/wave=<id>); retrying a failed wave with the SAME "
        "id overwrites its own segment instead of appending duplicate "
        "rows.  Defaults to a fresh uuid — pass one explicitly in any "
        "retrying scheduler.",
    )
    args = parser.parse_args(argv)
    if args.max_hamming is not None:
        args.near_dup = True  # a threshold without the stage is a silent no-op
    if args.substring_index is not None and args.dedup_index is None:
        raise SystemExit(
            "--substring-index requires --dedup-index (it rides the "
            "incremental wave machinery: wave ids, delete-before-overwrite "
            "segments, post-sink appends)"
        )
    if args.substring_index is not None and args.substring_clean is None:
        args.substring_clean = -1  # the index path IS the cleaning stage

    from pyspark.sql import SparkSession

    from paperoni_spark.pipeline.compose import build_training_corpus
    from paperoni_spark.pipeline.session import apply_engine_confs

    spark = apply_engine_confs(
        SparkSession.builder.appName("paperoni-corpus-build").getOrCreate()
    )
    if args.dedup_index is not None:
        wave = args.wave_id or uuid.uuid4().hex
        committed = _prepare_index_roots(spark, args, wave)

    if args.input.startswith("synthetic:"):
        from paperoni_spark.pipeline.synth_input import synthetic_documents

        documents = synthetic_documents(spark, args.input)
    else:
        documents = spark.read.parquet(args.input)

    # persist=True: both sinks share one extraction pass.  When the
    # cross-wave index drives substring cleaning, the wave-local compose
    # stage is suppressed — the index probe counts within-wave occurrences
    # too, so running both would clean twice and double-account the funnel
    substring_n = (
        None if args.substring_clean in (None, -1) else args.substring_clean
    )
    corpus, funnel, fingerprints = build_training_corpus(
        documents,
        base_url=args.base_url,
        persist=True,
        near_dup=args.near_dup,
        max_hamming=args.max_hamming,
        substring_clean=args.substring_clean is not None
        and args.substring_index is None,
        substring_n=substring_n,
        model_filter=args.model_filter is not False,
        model_threshold=args.model_filter
        if args.model_filter not in (False, None)
        else None,
    )
    if args.dedup_index is not None:
        from paperoni_spark.pipeline.compose import (
            dedup_wave_against_index,
            stage_count,
        )

        if args.substring_index is not None:
            # cleaning runs BEFORE the simhash dedup probe: the index's
            # fingerprints cover CLEANED written text, so the wave must
            # be probed in the same form — probing raw text would shift
            # near-dups by the removed boilerplate mass and silently
            # admit docs the wave-local configuration rejected
            from paperoni_spark.materialize import materialize
            from paperoni_spark.operators.dedup import (
                SUBSTR_DEDUP_N,
                substring_dedup,
                substring_delta_clean,
            )
            from paperoni_spark.pipeline.compose import apply_substring_rewrite
            from pyspark.sql import functions as F

            n_sub = SUBSTR_DEDUP_N if substring_n is None else substring_n
            # the probe joins re-run per consumer — cut the corpus once
            corpus = materialize(corpus)
            if committed[args.substring_index]:
                clean_res = substring_delta_clean(
                    spark,
                    corpus.select("doc_id", "text"),
                    args.substring_index,
                    n=n_sub,
                )
            else:
                # bootstrap: no committed waves yet — index ∪ wave is
                # just the wave, i.e. the whole-corpus operator
                clean_res = substring_dedup(
                    corpus.select("doc_id", "text"), n=n_sub
                )
            cleaned = materialize(clean_res.where(F.col("n_removed") > 0))
            corpus, funnel, fingerprints = apply_substring_rewrite(
                corpus, cleaned, funnel, fingerprints
            )
        from paperoni_spark.operators.dedup import (
            SIMHASH_PAIR_BITS,
            simhash,
            write_simhash_index,
        )

        if fingerprints is None:
            # no near-dup stage hashed the wave: hash the final text here,
            # once — the probe cuts it and hands its survivors to the
            # index append
            fingerprints = simhash(corpus, SIMHASH_PAIR_BITS)
        if committed[args.dedup_index]:
            corpus, fingerprints, rejected, resubmitted = dedup_wave_against_index(
                spark,
                corpus,
                fingerprints,
                args.dedup_index,
                max_hamming=args.max_hamming,
            )
            # persist the (tiny) reject-id set: the corpus anti-join, the
            # funnel count and the index append all consume it — without
            # the cache each one re-runs the index probe
            rejected = rejected.persist()
            funnel = funnel.unionByName(
                stage_count("rejected:near_duplicate_vs_corpus", rejected)
            ).unionByName(stage_count("rejected:already_ingested", resubmitted))
        corpus.write.mode("overwrite").parquet(
            os.path.join(args.output, f"wave={wave}")
        )
        if args.funnel is not None:
            funnel.write.mode("overwrite").parquet(
                os.path.join(args.funnel, f"wave={wave}")
            )
        # the written rows' fingerprints as the wave's index segment,
        # written LAST (a failed wave never poisons the index; after a
        # probe they descend from its materialized cut, so this re-runs
        # neither extraction nor hashing).  Bootstraps a missing
        # index on the first run.  The operator-built simhash indexes
        # share this wave=<id> layout (write = wave 0); anything WITHOUT
        # wave= segments is refused above as foreign.
        write_simhash_index(fingerprints, args.dedup_index, wave)
        if args.substring_index is not None:
            # the WRITTEN text's histogram: the index reflects what is in
            # the corpus (a removed span is gone — future waves dup
            # against surviving content, not against deleted bytes).
            # write_substring_index replays delete-before-overwrite
            # AND pins kind + shingle_n markers; string wave ids format
            # into the same wave=<id> layout
            from paperoni_spark.operators.dedup import write_substring_index

            write_substring_index(
                corpus.select("doc_id", "text"),
                args.substring_index,
                wave,
                n=n_sub,
            )
    else:
        mode = "append" if args.append else "overwrite"
        corpus.write.mode(mode).parquet(args.output)
        if args.funnel is not None:
            funnel.write.mode(mode).parquet(args.funnel)
    # both sinks consumed — release the shared extraction cache.  The
    # persisted frame is internal to build_training_corpus, so drop it via
    # the catalog; this job owns the whole session, so the blanket clear is
    # exact (redundant before spark.stop() here, load-bearing if this main
    # is ever embedded in a longer-lived session)
    spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
