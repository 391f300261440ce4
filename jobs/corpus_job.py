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

        wave = args.wave_id or uuid.uuid4().hex
        # existence probes through the Hadoop FS (any mounted scheme),
        # same rationale as extract_job's resume probe
        jvm = spark._jvm

        def hpath(p):
            return jvm.org.apache.hadoop.fs.Path(p)

        fs = hpath(args.dedup_index).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        # every sink of this wave — corpus segment, funnel segment, INDEX
        # segment — is wave=<id>-keyed and written with overwrite, so a
        # retried wave with the same --wave-id replays identically from
        # any crash point instead of appending duplicates.  The index's
        # own segment is deleted BEFORE the probe (a failed attempt's
        # fingerprints would otherwise pair the wave with itself and
        # misclassify every doc as already-ingested, emptying the output).
        own_name = f"wave={wave}"
        own_seg = hpath(os.path.join(args.dedup_index, own_name))
        # Classify the index directory BEFORE touching anything — the
        # refusal paths below must not mutate state (deleting the own
        # segment first would destroy a COMMITTED wave's fingerprints on
        # a re-run that forgot --append, desyncing corpus and index
        # while claiming to have refused).  "An index exists" means
        # committed wave segments OTHER than this wave's: a first wave
        # that crashed mid-write leaves no other segments, and its retry
        # must take the bootstrap path — not the --append refusal, and
        # not a probe that dies schema-inferring an empty directory.
        names = (
            [st.getPath().getName() for st in fs.listStatus(hpath(args.dedup_index))]
            if fs.exists(hpath(args.dedup_index))
            else []
        )
        foreign = [
            n
            for n in names
            if not n.startswith("wave=") and not n.startswith((".", "_"))
        ]
        if foreign:
            # e.g. a flat operator-built simhash index (bare part files):
            # silently bootstrapping would skip the dedup probe AND mix
            # partitioned/flat layouts in one directory
            raise SystemExit(
                "--dedup-index points at a directory that is not a "
                f"corpus_job wave-segmented index (found {foreign[:3]}): "
                "corpus_job owns wave=<id> segments only.  Point it at an "
                "index this job created, or at a fresh path."
            )
        # the operator-built indexes carry an _index_kind_<kind> marker
        # (fsio.assert_index_kind); only a simhash root is probe-compatible
        # — any other family's wave=<id> layout passes the foreign check
        # but would die (or worse, mis-probe) on missing columns later
        kinds = [n[len("_index_kind_"):] for n in names if n.startswith("_index_kind_")]
        if kinds and kinds != ["simhash"]:
            raise SystemExit(
                f"--dedup-index points at a {kinds[0]!r} index: corpus_job's "
                "dedup probe needs a simhash index.  Point it at an index "
                "this job (or write_simhash_index) created, or a fresh path."
            )
        # create the marker when absent — without it an index built HERE
        # would be adoptable by any other family's wave=0 build, the
        # exact silent destruction the marker prevents
        from paperoni_spark.fsio import (
            assert_append_wave,
            assert_index_kind,
            refuse_consumed_wave,
        )

        assert_index_kind(spark, args.dedup_index, "simhash")
        # the index append (write_wave_segment) repeats the wave-id and
        # compaction guards, but only after the sinks are written — run
        # them HERE, before the own-segment delete below: a wave id that
        # compact_index folded into the merged segment no-ops that
        # delete, the probe then pairs the wave against its own
        # fingerprints inside the merged history, and the wave empties
        # with the corpus/funnel sinks already written
        try:
            assert_append_wave(wave)
            refuse_consumed_wave(spark, args.dedup_index, wave)
        except ValueError as e:
            raise SystemExit(str(e)) from None
        index_waves = [n for n in names if n.startswith("wave=") and n != own_name]
        if index_waves and not args.append:
            # loud refusal (same convention as write_output's
            # legacy-dir guard): overwriting the corpus while the
            # index keeps other waves' fingerprints would reject
            # future docs against content no longer in the corpus
            raise SystemExit(
                "--dedup-index points at an existing index but --append "
                "was not given: a plain overwrite would desynchronize "
                "corpus and index.  Pass --append for a wave, or remove "
                "the index to rebuild from scratch."
            )
        # all refusals are behind us — NOW it is safe to clear a failed
        # attempt's leftover own segment before the probe
        if fs.exists(own_seg):
            fs.delete(own_seg, True)
        if args.substring_index is not None:
            # cleaning runs BEFORE the simhash dedup probe: the index's
            # fingerprints cover CLEANED written text, so the wave must
            # be probed in the same form — probing raw text would shift
            # near-dups by the removed boilerplate mass and silently
            # admit docs the wave-local configuration rejected
            from paperoni_spark.fsio import (
                assert_index_kind,
                delete_path,
                refuse_foreign_layout,
            )
            from paperoni_spark.materialize import materialize
            from paperoni_spark.operators.dedup import (
                SUBSTR_DEDUP_N,
                substring_dedup,
                substring_delta_clean,
            )
            from paperoni_spark.pipeline.compose import apply_substring_rewrite
            from pyspark.sql import functions as F

            n_sub = SUBSTR_DEDUP_N if substring_n is None else substring_n
            refuse_foreign_layout(spark, args.substring_index)
            assert_index_kind(spark, args.substring_index, "substring_hist")
            # same guard as the dedup index, and for the same reason:
            # the pre-probe own-histogram delete just below no-ops on a
            # compacted wave id and the probe counts the wave against
            # its own folded shingles (the whole wave's text strips)
            try:
                refuse_consumed_wave(spark, args.substring_index, wave)
            except ValueError as e:
                raise SystemExit(str(e)) from None
            # a failed attempt's leftover own histogram would count this
            # wave's shingles AGAINST THE WAVE ITSELF — every shingle hits
            # total ≥ 2 and the whole wave empties — so clear it BEFORE
            # the probe (same rule as the simhash own-segment delete)
            delete_path(
                spark, os.path.join(args.substring_index, f"wave={wave}")
            )
            # the substring index may live on a different scheme than the
            # dedup index — derive ITS OWN FileSystem (never reuse fs)
            sub_root = hpath(args.substring_index)
            sfs = sub_root.getFileSystem(spark._jsc.hadoopConfiguration())
            sub_names = (
                [st.getPath().getName() for st in sfs.listStatus(sub_root)]
                if sfs.exists(sub_root)
                else []
            )
            sub_waves = [m for m in sub_names if m.startswith("wave=")]
            # the probe joins re-run per consumer — cut the corpus once
            corpus = materialize(corpus)
            if sub_waves:
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
            append_to_simhash_index,
            simhash,
        )

        if fingerprints is None:
            # no near-dup stage hashed the wave: hash the final text here,
            # once — the probe cuts it and hands its survivors to the
            # index append
            fingerprints = simhash(corpus, SIMHASH_PAIR_BITS)
        if index_waves:
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
        append_to_simhash_index(fingerprints, args.dedup_index, wave)
        if args.substring_index is not None:
            # the WRITTEN text's histogram: the index reflects what is in
            # the corpus (a removed span is gone — future waves dup
            # against surviving content, not against deleted bytes).
            # append_to_substring_index replays delete-before-overwrite
            # AND pins kind + shingle_n markers; string wave ids format
            # into the same wave=<id> layout
            from paperoni_spark.operators.dedup import append_to_substring_index

            append_to_substring_index(
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
