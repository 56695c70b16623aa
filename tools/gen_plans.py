#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans for the headline
queries, with commentary on the scale-relevant plan features. Run from
the repo root:

    python tools/gen_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

COMMENTARY = {
    "sql_lsh_topk": (
        "Hyperplane-LSH approximate top-k from PURE SQL (round 11; "
        "bench-protected round 12). The per-table bucket signature is "
        "a string of codegen-inlined eng_dot sign tests over LITERAL "
        "hyperplanes — no UDF, no per-row Python — so the signature "
        "computation rides WholeStageCodegen on both sides. Candidates "
        "meet on an equi-join on (table, signature): the shuffle keys "
        "are the bucket strings, so pair work is O(bucket collisions), "
        "never all-pairs; eng_cosine re-ranks only the joined "
        "candidates. Same plan family as lsh_bucketed_topk, "
        "bit-identical output (tests/test_sql_udfs.py)."
    ),
    "cm_convert_gold": (
        "Column-mapping convert end-to-end (round 11). The foreign "
        "name-mapped table adopts by O(metadata) renames — zero data "
        "IO at any size — and the read below resolves PHYSICAL parquet "
        "names (col-…) to the logical schema via projection "
        "expressions, which Catalyst pushes into the scan: column "
        "pruning still reaches the footers, min/max skipping uses the "
        "translated stats, and the MOR delete applies as a broadcast "
        "anti-join on _metadata row positions (no fact-side Exchange). "
        "At 100 TB the convert cost stays O(files) metadata; the read "
        "pays only the projection rename."
    ),
    "delta_stream_foreign_gold": (
        "Foreign-Delta STREAMING tail (round 11). The plan below is "
        "the memory-sink read-back (a micro-batch source has no static "
        "plan to explain); the scale features live in the source "
        "itself: offsets are log versions, planning parses ONLY the "
        "commit JSONs between two offsets (O(commit) driver work, "
        "never O(table)), each input partition is exactly one parquet "
        "file read executor-side via pyarrow, and deletion vectors "
        "decode executor-side from the roaring bytes (O(DV bytes)). "
        "Backlog pacing (maxfiles/maxbytespertrigger) slices units by "
        "position, so a 10k-commit backlog drains in bounded batches "
        "with flat per-batch planning cost "
        "(tools/scale_probe_delta_stream.py). startingtimestamp "
        "binary-searches the commit timestamps (shared resolver with "
        "the batch reader); a timestamp PAST THE TIP deliberately "
        "diverges from delta-spark's timestampGreaterThanLatestCommit "
        "error — it tails only FUTURE commits, a coherent request for "
        "a tailing stream (pinned in "
        "test_foreign_delta_starting_timestamp)."
    ),
    "delta_stream_cdf_gold": (
        "Foreign-Delta streaming CHANGE FEED (round 12). Same source "
        "economics as delta_stream_foreign_gold — O(commit) planning, "
        "one file per executor-side partition — with change semantics "
        "decided per commit at PLAN time from the actions alone: cdc "
        "commits read their _change_data parquet (_change_type "
        "in-data), derived commits emit their dataChange files under "
        "each action's own DV mask, and _commit_version/_commit_"
        "timestamp ride as per-batch constants (never a shuffle). The "
        "oracle recomputes the full feed relationally; batch "
        "table_changes parity is pinned in "
        "tests/test_delta_stream_source.py."
    ),
    "snapshot_stream_cdf_gold": (
        "Snapshot streaming CHANGE FEED (round 12) — the streaming twin "
        "of snapshot_changes. The plan below is the memory-sink "
        "read-back (micro-batch sources have no static plan); the "
        "scale features live in the source: planning diffs exactly two "
        "manifests per commit (O(changed files) driver work), each "
        "partition is one parquet file read executor-side under ITS "
        "manifest's merge-on-read entries, and MOR commits emit the "
        "rows entering/leaving via the per-entry diff — the pyarrow "
        "match path, positional matches addressed by ORIGINAL physical "
        "index carried through the masks. Batch-vs-stream parity is "
        "pinned row-for-row across COW + predicate/positional/equality "
        "MOR in tests/test_snapshot.py."
    ),
    "delta_log_read_gold": (
        "READ-ONLY batch reader over a foreign Delta log (round 12): "
        "versionAsOf/timestampAsOf without delta jars and WITHOUT "
        "adopting the tree. ONE parquet scan over the live files "
        "(explicit physical schema — look for the single FileScan with "
        "both snapshots' file lists under the union), per-file "
        "partitionValues via a BROADCAST dim on _metadata.file_path. "
        "Deletion vectors mask on _metadata.row_index in one of two "
        "budget-gated shapes (round 13, VERDICT r12 #2): under "
        "dv_broadcast_max_positions total cardinality (read free from "
        "the descriptors) a driver decode + BroadcastHashJoin LeftAnti "
        "— the plan here; over it, each file's DV decodes "
        "EXECUTOR-SIDE in an Arrow mapInPandas riding the scan stage "
        "(zero shuffle, driver ships descriptors only — "
        "tools/scale_probe_dv_batch.py: 12M positions, driver RSS "
        "flat, where the old enumerate-and-broadcast plan dies in a "
        "broadcast OOM). timestampAsOf binary-searches the "
        "non-decreasing commit timestamps (O(log versions) driver FS "
        "calls, shared resolver with the streaming source; "
        "commitInfo.inCommitTimestamp preferred when present). Never "
        "a per-file driver loop, never a fact-side Exchange. At "
        "100 TB the reader pays O(qualifying files) metadata + the "
        "scan itself; long-log replay reads commit JSONs with local "
        "IO resolved once (~0.5 ms/commit at 8000 commits, "
        "tools/scale_probe_delta_planning.py)."
    ),
    "delta_log_read_pruned_gold": (
        "Predicate file-skipping on the read-only foreign-Delta "
        "reader (round 13): the scan below lists ONLY the files whose "
        "add.partitionValues / stats min-max may match the where= "
        "range — compare its file list against the three exported "
        "key-range files — and the same predicate re-applies as an "
        "exact row filter above the DV mask. Skipping is decided "
        "driver-side from metadata the log already carries: O(files) "
        "dict work, zero IO. The inputFiles()-level asserts live in "
        "tests/test_delta_export.py."
    ),
    "delta_log_read_dv_exec_gold": (
        "Both deletion-vector mask shapes of the batch foreign-Delta "
        "reader over the SAME table (round 13): the executor leg "
        "forces dv_broadcast_max_positions=0 — look for MapInPandas "
        "directly above the FileScan, NO Exchange between them (the "
        "mask rides the scan stage; each file's DV decodes where its "
        "rows are read) — while the broadcast leg shows the "
        "BroadcastHashJoin LeftAnti on (file, row_index) with no "
        "MapInPandas. The union hash-compares both against the oracle "
        "twice, so the two shapes are pinned bit-equal. The heavy-"
        "delete scaling evidence is tools/scale_probe_dv_batch.py "
        "(12M positions: executor path flat driver RSS, broadcast "
        "path OOMs)."
    ),
    "delta_cdf_cm_gold": (
        "Batch CDF over a COLUMN-MAPPED foreign Delta log (round 13): "
        "table_changes reads the cdc _change_data parquet under "
        "PHYSICAL column names (col-ok/col-pr) and projects them "
        "logical — the scan's ReadSchema shows physical names, the "
        "output logical — while the in-data _change_type column "
        "passes through the mapping walk untouched (it is not a "
        "table column). Per-version change files read directly (no "
        "fact-side Exchange; partition values would attach as "
        "broadcast-free literals). The streaming readchangefeed twin "
        "is pinned bit-identical in tests/test_delta_stream_source.py."
    ),
    "dv_export_roundtrip_gold": (
        "Deletion-vector export round trip (round 10). The read is "
        "EXCLUSIVELY from the exported Delta log: per DV'd file, the "
        "roaring bitmap decodes driver-side (a DV is metadata-sized by "
        "construction) and the positions anti-join against "
        "_metadata.row_index as a BroadcastHashJoin LeftAnti — the "
        "fact scan never shuffles, and files without DVs read with no "
        "join at all. On the WRITE side the bitmaps were built "
        "executor-side (one grouped Arrow UDF over the covered files "
        "only; the driver receives one compressed bitmap per file, "
        "never row-level data), so a 100 TB table with deletes on k "
        "files pays O(k files read) + O(k bitmaps), independent of "
        "table size."
    ),
    "sql_scalar_subquery_small_lot": (
        "Correlated scalar subquery per group (TPC-H Q17 shape) through "
        "the raw SQL entry point. Catalyst DECORRELATES: the per-part "
        "0.5*AVG(l_quantity) threshold plans as ONE grouped aggregate "
        "over lineitem (partial_avg below its Exchange) joined back on "
        "l_partkey — no Subquery node survives in the executed plan, so "
        "nothing re-executes per row. The part dim broadcasts. "
        "Plan-asserted in tests/test_plans_scale.py."
    ),
    "snapshot_delete_skipping": (
        "Copy-on-write DELETE with per-file min/max skipping. Three "
        "appends land three files with disjoint o_orderkey ranges "
        "[0,700) [700,1400) [1400,2000); DELETE BETWEEN 800 AND 1200 "
        "provably touches only the middle file: files_kept=2 carried "
        "with ZERO IO, files_rewritten=1 (the counts are pinned as "
        "oracle constants). The plan below is the post-delete read — "
        "note the scan lists exactly the 2 carried files plus the 1 "
        "rewrite, never the deleted original. At 100 TB the rewrite "
        "set stays proportional to predicate selectivity, not table "
        "size."
    ),
    "snapshot_merge_upsert": (
        "MERGE upsert (WHEN MATCHED UPDATE ALL / NOT MATCHED INSERT "
        "ALL). The source key range [1000,3000] prunes target files by "
        "min/max BEFORE any join: untouched files carry into the new "
        "version as metadata, only overlapping files join the source "
        "(broadcast — the source is the small side by construction). "
        "The plan shown is the merged read-back; the pruned-file "
        "behavior is pinned by the snapshot model tests."
    ),
    "cdc_incremental_agg": (
        "Change-feed-driven aggregate maintenance: the gold "
        "per-priority SUM/COUNT bootstraps from version 0, then each "
        "version's delta applies as +insert/-delete increments from "
        "snapshot_changes — the scan below reads ONLY the changed "
        "files of each version (file-granularity CDF), never re-reads "
        "the base. At 100 TB the maintenance cost tracks the change "
        "volume, not the table."
    ),
    "delta_log_export_gold": (
        "Delta-protocol interop: the table is read back EXCLUSIVELY "
        "through the exported _delta_log (replay add/remove to the "
        "live set, spark.read the named parquet files) — 5 log "
        "versions (overwrite, 2 hook-mirrored appends, COW DELETE, "
        "OPTIMIZE as dataChange=false) pinned in the oracle. The scan "
        "below lists exactly the live files the log resolves to; a "
        "wrong diff in any commit surfaces as a missing/extra file "
        "path here and a driver hash mismatch."
    ),
    "flagship_gold_minmax": (
        "The reference's gold aggregation. Look for: partial_min/partial_max "
        "HashAggregate below the Exchange (map-side combine — the shuffle "
        "carries one row per partition x key), final HashAggregate above it, "
        "and the project/cast folded into the scan stage."
    ),
    "tpch_q6ish": (
        "Pure filter+agg. Every predicate reaches the parquet scan "
        "(PushedFilters: ship-date range, discount range, quantity bound) and "
        "ReadSchema carries only the 4 referenced columns of 11."
    ),
    "tpch_q3ish": (
        "Star-ish join. The selective customer dim is broadcast "
        "(BroadcastHashJoin, no shuffle of the orders side for that join); "
        "the lineitem x (orders x customer) join is declared shuffle-joinable "
        "and AQE chooses locally. Final: TakeOrderedAndProject, never a "
        "global sort."
    ),
    "topk_orders": (
        "Ordered top-k plans as TakeOrderedAndProject: per-task heaps + "
        "driver merge of k rows — no range-partitioned global sort "
        "materializes at any scale."
    ),
    "minhash_near_dup": (
        "MinHash LSH. Signature construction is a map-only project (higher-"
        "order functions inside WholeStageCodegen, no Exchange until the "
        "band-bucket self-join); candidate generation is an equi-join "
        "(SortMergeJoin/ShuffledHashJoin on band,bkey) — cost O(bands x docs), "
        "never |docs|^2."
    ),
    "window_minmax_partition": (
        "Windowed min/max per key: ONE Exchange on the partition key feeding "
        "a single Window node computing both aggregates — multiple window "
        "expressions over the same (partition, order) share one shuffle+sort."
    ),
    "contamination_ngram_overlap": (
        "Decontamination. The eval shard's distinct n-gram set builds a "
        "BroadcastExchange (twice: gram match, then per-doc hit counts "
        "joined back) — the train corpus is scanned and exploded but never "
        "shuffled; at 100 TB the only wide exchange is the tiny eval side."
    ),
    "weighted_sample_docs": (
        "Weighted sampling. Priorities are pure expression work "
        "(md5/conv/pow inside codegen); selection is TakeOrderedAndProject "
        "— per-partition top-k heaps merged on the driver, no global sort "
        "of the corpus."
    ),
    "near_dup_components": (
        "Cluster-resolution output (the registry query sorts the final "
        "labels): the per-round LAZY localCheckpoint truncates lineage, "
        "so the executed plan reads the LAST round's materialized frame "
        "as a Scan ExistingRDD — round N's in-flight shape (edge join + "
        "grouped min, plus the round-11 pointer-jumping compression join "
        "component := label(component), which halves remaining diameter "
        "per round) never compounds into N nested copies, and each round "
        "is one driver job."
    ),
    "dedup_distinct": (
        "Distinct + totally-ordered output as ONE Exchange: range-"
        "partition first (satisfies the aggregate's clustering "
        "requirement — equal rows share sort keys), dedup in place, "
        "re-sort within partitions. distinct().orderBy() would pay a "
        "hash Exchange AND a range Exchange."
    ),
    "interval_overlap_join_events": (
        "Interval-overlap join via chunk decomposition: both sides "
        "explode onto fixed 10-minute chunks and join as a plain hash "
        "equi-join on (user, chunk) + exact-overlap filter — no "
        "BroadcastNestedLoopJoin, no per-key cartesian; shuffle is "
        "O(rows x chunks/interval)."
    ),
    "word_entropy_docs": (
        "Per-doc Shannon entropy as ONE map-only project: sort the token "
        "array and fold run lengths in a single aggregate HOF (ln n - "
        "sum c ln c / n). The only Exchange is the unsplittable-input "
        "fan-out repartition (ensure_min_partitions — a no-op on real "
        "multi-row-group layouts); the entropy math itself adds none. The "
        "naive explode -> groupBy(doc,word) -> groupBy(doc) -> join shape "
        "ships every token through two shuffles for doc-local math "
        "(measured 12x slower at sf0.1)."
    ),
    "remove_dup_segments_docs": (
        "Corpus-wide duplicate-segment removal. The segment-keyed "
        "aggregation is the one unavoidable wide Exchange (dedup is a "
        "meeting of values); the join back rides AQE, and per-doc "
        "reassembly sorts (idx, segment) structs INSIDE the row via "
        "array_sort — ordering without a window or secondary sort "
        "exchange."
    ),
    "unigram_logprob_docs": (
        "Unigram LM scoring. The vocab aggregate is vocabulary-sized and "
        "AQE broadcasts it back against the exploded tokens; the corpus "
        "total is a single-row broadcast scalar. The only fact-side "
        "shuffle is the final per-doc mean."
    ),
    "bucketed_join_revenue": (
        "Join over write_bucketed tables: both scans report the join key's "
        "HashPartitioning, so there is no Exchange on either side — bucket "
        "i of orders merges with bucket i of customer directly. (Plan shown "
        "from catalog tables created by the query itself; the Exchange-free "
        "property is asserted in tests/test_layout.py.)"
    ),
    "image_dhash_near_dup": (
        "Perceptual image near-dup (round 6). Hashing is ONE Arrow "
        "MapInPandas pass (decode + resize + dhash in numpy, batch-at-a-"
        "time — never row-at-a-time Python), and the (id, hash) projection "
        "is lineage-cut (localCheckpoint) before the self-join, so both "
        "join sides Scan ExistingRDD instead of re-running the decode — "
        "the plan's two leaf scans are 16-byte rows, not image bytes; the "
        "pair stage is the simhash pigeonhole shape: explode 4 (chunk, "
        "value) rows per image, equi-join on them, verify with "
        "bit_count(xor) under codegen. "
        "Pixels never reach an Exchange; there is no all-pairs operator "
        "anywhere in the plan."
    ),
    "unigram_encode_docs": (
        "Unigram-LM encode (round 6). The Viterbi DP is an aggregate FOLD "
        "over a 12-step sequence — a single small codegen expression per "
        "word, linear plan size (a per-step withColumn chain would inline "
        "3^12 candidate expressions via CollapseProject). Only DISTINCT "
        "words run the DP; the piece log-prob map is a 1-row broadcast "
        "cross join; per-occurrence cost is the join back + in-row "
        "array_sort/flatten reassembly."
    ),
    "audio_fp_near_dup": (
        "Perceptual audio near-dup (round 6): same plan family as the "
        "image variant — one Arrow MapInPandas decode+fingerprint pass, "
        "lineage-cut (id, hash) projection, pigeonhole chunk equi-join, "
        "bit_count verify. Samples never reach an Exchange."
    ),
    "video_fp_near_dup": (
        "Perceptual video near-dup (round 6): frame-stream decode + "
        "integer-mean pooling + dhash in the single Arrow pass; the "
        "pair stage is identical to stills — clip bytes stay in the "
        "map task that decoded them."
    ),
    "logreg_hashed_ngram_quality": (
        "Hashing-trick quality classifier (round 6). Feature extraction "
        "is in-row HOFs (grams array -> bucket array -> filtered counts) "
        "with no explode; each GD iteration is ONE map-side-combined "
        "aggregate producing a 9-float gradient; scoring folds the "
        "learned weights into a codegen sigmoid. Feature width is fixed "
        "by the bucket count, so the plan is corpus-size-independent."
    ),
    "media_near_dup_keep_best": (
        "Quality-aware media canonical keep (round 7). The pair stage is "
        "the lineage-cut chunk join (pixels never shuffle); component "
        "resolution loops tiny (id, component) label frames with "
        "localCheckpoint truncating lineage per round, so the plan below "
        "stays constant-size however many Pregel rounds ran; the winner "
        "argmax is two aggregates over cluster MEMBERS only. Corpus rows "
        "appear once: the final left_anti against losers."
    ),
    "wordpiece_train": (
        "WordPiece training (round 7). Per round: one explode over the "
        "Heaps-law word table, a map-side-combined pair count, two "
        "BROADCAST joins stamping symbol counts (the likelihood-ratio "
        "denominator — no shuffle of the pair table), and a 1-row min_by "
        "argmax. The corpus itself is scanned exactly once, in the "
        "word_frequencies CTE at the bottom of the plan."
    ),
    "wordpiece_encode_docs": (
        "WordPiece encode (round 7). The greedy longest-match loop is an "
        "aggregate FOLD over a broadcast vocab map — look for a single "
        "projection stage per distinct word, no iterative joins, no "
        "BatchEvalPython; per-occurrence cost is the join from distinct "
        "segmentations back to (doc, pos)."
    ),
    "bloom_pruned_join_orders": (
        "Bloom semi-join reduction (round 7). The dim's key bits fold "
        "into a bounded (word, bits) table; each of the k=3 probes is a "
        "map-side BroadcastHashJoin + bit-test FILTER on the fact scan "
        "side — the fact's non-matching bulk dies BEFORE the first "
        "Exchange, and the exact join above removes the Bloom false "
        "positives, so the result is provably the plain join. The "
        "deterministic, persistable sibling of Spark's transient "
        "runtime bloom filter."
    ),
    "cms_heavy_hitters_docs": (
        "Count-min heavy hitters (round 7). The corpus is scanned once "
        "to build the bounded counter-table and once for distinct "
        "candidates; the decision itself is |vocab| x depth probe rows "
        "against a BROADCAST sketch, a BroadcastNestedLoopJoin with the "
        "1-row stream-length frame, and a pure-BIGINT filter — nothing "
        "data-sized shuffles to decide, and est >= true means a true "
        "phi-heavy hitter can never be missed."
    ),
    "loghist_quantiles_orders": (
        "Log-histogram quantiles (round 7). One map pass computes each "
        "price's bit-length, one bounded aggregate builds the <= 63-row "
        "histogram; everything above it (cumulative window, quantile "
        "join, shiftleft upper bound) runs over sketch-sized frames — "
        "the single data-sized Exchange in the plan is the histogram "
        "groupBy, whose shuffle carries at most 63 rows per task."
    ),
    "kmv_distinct_words_docs": (
        "KMV distinct-count sketch (round 7). The word hash is a map-"
        "side project; the distinct's PARTIAL HashAggregate collapses "
        "duplicate hashes before the Exchange (the shuffle carries "
        "8-byte distinct hashes, never words), and the k-min is a "
        "TakeOrderedAndProject — per-task heaps + a k*tasks driver "
        "merge, no global Sort. The estimate is integral arithmetic "
        "over a 1-row frame, replayed bit-for-bit by the oracle."
    ),
    "kmv_lang_overlap_docs": (
        "Theta-style set overlap from two KMV sketches (round 7). Each "
        "language's sketch builds independently (same bounded shape as "
        "kmv_distinct_words_docs); the merge, the two left_semi "
        "membership probes, and the BIGINT intersection estimate all "
        "run over <= k-row BROADCAST frames — the corpus is scanned "
        "once per side and nothing data-sized ever joins."
    ),
    "kmv_grouped_lang_vocab": (
        "Grouped KMV rollup (round 7). dropDuplicates partial-"
        "aggregates (key, hash) map-side so the one data-sized "
        "Exchange carries fixed-width DISTINCT pairs; the per-key "
        "k-min is a rank window partitioned by key — never a per-key "
        "collect_set, so no key's distinct set buffers in memory (and "
        "for hot keys the salted two-stage variant splits the single-"
        "task sort, SCALE.md). Estimates run over <= k rows per key."
    ),
    "loghist_bucket_orders": (
        "Sort-free quantile bucketing (round 7) — the scale path for "
        "ntile_deciles_orders' global-order ceiling. The cutpoints "
        "come from the <= 63-row log-histogram (its cumsum window is "
        "sketch-sized); the data side takes ONE BroadcastNestedLoopJoin "
        "against the 1-row cutpoint array and buckets with a pure "
        "expression — the orders table never shuffles pre-agg, never "
        "sorts, never crosses a single-task window."
    ),
    "loghist_tail_share_by_lang": (
        "Grouped-loghist composition (round 7): per-language p90 "
        "length cutpoints from the <= 63-row/key rollup (its cumsum "
        "window partitions BY KEY over sketch-sized frames), then one "
        "BROADCAST join (#langs rows) flags tail membership map-side. "
        "The corpus is scanned once, shuffles only for the final "
        "per-lang count, and the partial aggregate of the histogram "
        "build collapses to <= 63 rows/key map-side — hot domains "
        "cost the same as cold ones."
    ),
    "kll_quantiles_orders": (
        "Deterministic KLL-style rank sketch (round 8). Two column "
        "scans: the first feeds a <= 49-row level HISTOGRAM (the "
        "partial HashAggregate collapses map-side; its suffix-cumsum "
        "window orders <= 49 rows), the second filters survivors "
        "against the broadcast 1-row (n, lvl) threshold. The rank "
        "window orders <= k=1024 SURVIVORS, never data — the whole "
        "quantile answer moves <= k rows however large the input. "
        "No sort of the data, no global window over it."
    ),
    "bpe_encode_bytes_docs": (
        "Byte-fallback BPE encode (round 8). The merge list is ONE "
        "broadcast row (BroadcastNestedLoopJoin of a 1-row frame); "
        "every token decision — merge fold, [a-z]+ eligibility, "
        "<0xHH> byte fallback, the ▁ boundary marker — is a per-row "
        "codegen expression. The corpus is scanned once and never "
        "shuffles; the only exchange is the final orderBy for the "
        "deterministic driver compare."
    ),
    "kll_bucket_orders": (
        "Sort-free quantile bucketing at KLL precision (round 8): the "
        "quartile cutpoints come from the <= 1024-row level sample "
        "(loghist_bucket's plan, ~1.5% rank error instead of factor-2 "
        "bounds) and each row's bucket is a pure expression against "
        "the ONE-row broadcast cutpoint array (BroadcastNestedLoopJoin "
        "of one row). The data never shuffles for the bucketing "
        "itself; the only exchange is the final per-bucket aggregate."
    ),
    "kll_grouped_len_by_lang": (
        "Grouped KLL rollup (round 8): per-key level histograms "
        "(<= 49 rows/key map-side), per-key thresholds broadcast back, "
        "survivors filtered, and the rank window partitions BY KEY "
        "over <= k=256 rows/key. Hot languages cost one histogram row "
        "more, never a blown bucket — the level rises with the key's "
        "row count."
    ),
    # round 9 (VERDICT r8 #8): every bench-headline query carries plan
    # evidence here — tests/test_docs.py asserts the PLANS.md section
    # per bench name, so a new bench entry without a reviewed plan
    # fails CI rather than shipping unexamined.
    "join_revenue_per_nation": (
        "Dim-chain star join: region -> nation -> customer -> orders. "
        "Every dimension side is broadcast (BroadcastHashJoin x3 — the "
        "fact scan never shuffles for the joins); the only Exchange is "
        "the final per-nation aggregate, pre-combined map-side."
    ),
    "events_hourly_rollup": (
        "Time-bucket rollup: date_trunc is a pure projection inside the "
        "scan stage, then partial HashAggregate -> ONE Exchange on the "
        "hour bucket -> final aggregate. Bucket count bounds the shuffle "
        "(hours, not events)."
    ),
    "tpch_q1ish": (
        "The classic scan-heavy aggregate: ship-date filter reaches the "
        "parquet scan (PushedFilters), ReadSchema prunes to the 7 "
        "referenced columns, all 8 aggregates compute as partial "
        "HashAggregate below one Exchange on the tiny (flag, status) "
        "key space."
    ),
    "text_token_stats": (
        "Per-doc token statistics: split/size/aggregate are all "
        "WholeStageCodegen expression work over the documents scan — "
        "the only Exchange carries one row per language, not per doc."
    ),
    "cosine_topk": (
        "Brute-force cosine baseline: the dot product is F.aggregate "
        "(zip_with fold) inside codegen per (query, doc) pair, and the "
        "top-k lands as TakeOrderedAndProject (per-task heaps, driver "
        "merge of k rows) — no global sort of the score matrix."
    ),
    "tpch_q9ish": (
        "Multi-join profit rollup: part/supplier/nation broadcast; the "
        "lineitem-orders join is the one big equi-join, AQE-planned; "
        "the profit expression folds into the join's output projection "
        "before the per-(nation, year) aggregate Exchange."
    ),
    "hll_sketch_rollup_users": (
        "Mergeable distinct-count rollup: per-(day) partial "
        "approx_count_distinct sketches combine map-side, one Exchange "
        "of sketch-sized rows; the same plan shape re-aggregates "
        "per-day sketches into the total without touching events twice."
    ),
    "training_corpus_filter": (
        "The quality-gate scan: language/length/ratio predicates are "
        "pure codegen over the documents scan with column pruning; no "
        "Exchange at all — a 100 TB corpus filter is embarrassingly "
        "parallel map work."
    ),
    "dedup_duplicate_spans_docs": (
        "Span-level dedup: shingle explode -> ONE gram-keyed Exchange "
        "for the duplicated-gram count, then the join back to spans is "
        "keyed on the same gram hash — the wide text column never "
        "rides the shuffle (fetched by id after candidates resolve)."
    ),
    "pack_sequences_budget": (
        "Token-budget packing: running-sum window PARTITIONED by shard "
        "(never a global window), so each shard's greedy pack is one "
        "sorted partition-local pass; Exchange count = 1 (the shard "
        "hash)."
    ),
    "cohort_weekly_retention": (
        "Cohort retention: first-seen week via a per-user aggregate "
        "(one Exchange on user), then the (cohort, week) matrix "
        "aggregate over cohort-sized keys — both aggregates "
        "pre-combine map-side; no self-join of events."
    ),
    "join_skewed_salted": (
        "Skew-mitigating salted join (round 9): ~60% of fact rows share "
        "ONE key. Look for: the dim side exploded 16x BEFORE its "
        "Exchange (the replication that buys the scatter), the join key "
        "extended to (k, __salt) so the hot key spreads over 16 "
        "reducers, and the per-grp aggregate pre-combining map-side. "
        "No reducer sees more than ~1/16th of the hot key at any scale."
    ),
    "cms_word_freq_docs": (
        "Count-min sketch build: token explode feeds d x w conditional "
        "sums that collapse map-side (the Exchange carries the d*w "
        "counter grid, not tokens); estimates probe the broadcast grid "
        "— bounded state whatever the corpus."
    ),
    # round 11 (VERDICT r10 #8): plan evidence for the remaining SQL
    # correlated-subquery queries and the CDF export replay.
    "sql_exists_heavy_lineitem": (
        "Correlated EXISTS through spark.sql: Catalyst decorrelates to "
        "ONE LeftSemi join on o_orderkey — no Subquery node survives, "
        "so nothing re-executes per row. The subquery side collapses "
        "to an aggregated (orderkey, sum) frame that AQE BROADCASTS at "
        "this SF (BroadcastHashJoin LeftSemi in the plan below; at "
        "scale both sides shuffle on the correlation key); the only "
        "Exchanges are the final aggregate pair + sort for the driver "
        "compare. The date filter on the orders scan is pushed "
        "(PushedFilters), so the semi probe reads a filtered scan, not "
        "the full fact."
    ),
    "sql_multi_exists_customers": (
        "EXISTS + NOT EXISTS on the same fact in one statement: both "
        "decorrelate in a single plan — LeftSemi (orders hit) feeding "
        "LeftAnti (no high-value order), each an equi-join on "
        "c_custkey. AQE turns the dim-sized sides into broadcasts at "
        "this SF; at scale they stay shuffle joins keyed on the "
        "correlation column. Zero Subquery nodes; the customer scan is "
        "read ONCE (ReadSchema pruned to the referenced columns)."
    ),
    "cdf_export_changes": (
        "Delta CDF export replay (table_changes from the exported log "
        "alone): each DML version's change rows come from scanning "
        "ONLY the files its cdc actions name under _change_data/ — "
        "files-pruned by construction (the log says exactly which "
        "parquet to read; there is no table scan and no join back to "
        "the data). The per-version frames union behind one final "
        "Exchange for the deterministic output ordering; cost is "
        "O(changed rows), never O(table)."
    ),
}

# Composed pipelines in the bench headline set: not single registry
# DataFrames, so each gets a builder returning a representative final
# DataFrame to explain (the write()s themselves add no plan nodes), and
# the commentary describes the composed stage structure.


def _medallion_gold_df(spark, sf_dir):
    import datetime as dt
    import tempfile

    from azure_etl_spark.plans.pipeline import MedallionPipeline
    from azure_etl_spark.plans.queries import crypto_view

    p = MedallionPipeline(
        root=tempfile.mkdtemp(prefix="plans_pipe_"), as_of=dt.date(2024, 1, 15)
    )
    p.to_bronze(crypto_view(spark, sf_dir))
    # silver_to_gold returns gold read back; explain the aggregate it writes
    return p.gold_plan(p.bronze_to_silver(spark))


def _corpus_funnel_df(spark, sf_dir):
    from azure_etl_spark.plans.corpus_pipeline import CurationPipeline
    from azure_etl_spark.sources.files import ensure_min_partitions, load_table

    docs = ensure_min_partitions(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    )
    return CurationPipeline().run(docs)


def _delta_fixture_for_plans(spark, sf_dir):
    import tempfile

    import bench

    root = tempfile.mkdtemp(prefix="plans_delta_")
    return bench._build_delta_fixture(spark, sf_dir, root), root


def _delta_batch_read_df(spark, sf_dir):
    from azure_etl_spark.sources.delta_export import read_delta_log_table

    fixture, _root = _delta_fixture_for_plans(spark, sf_dir)
    return read_delta_log_table(spark, fixture)


def _delta_stream_drain_df(spark, sf_dir):
    import os as _os

    from azure_etl_spark.streaming import delta_source

    fixture, root = _delta_fixture_for_plans(spark, sf_dir)
    delta_source.register(spark)
    q = (
        spark.readStream.format("delta_log_table")
        .option("path", fixture)
        .option("readchangefeed", "true")
        .option("startingversion", "0")
        .load()
        .writeStream.format("memory")
        .queryName("plans_delta_drain")
        .option("checkpointLocation", _os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql("SELECT * FROM plans_delta_drain")


SPECIAL = {
    "pipeline_medallion": (
        "The reference pipeline end-to-end (bronze parquet -> silver "
        "dedup+cast -> gold min/max). The timed bench run includes the "
        "four layer WRITES (parquet, snapshot commit, document + staged "
        "warehouse sinks); the plan below is the gold aggregate read "
        "back off silver: scan-side projection, partial min/max below "
        "one Exchange on symbol. Each layer boundary is a real "
        "materialization, so no stage's lineage compounds into the next."
        ,
        _medallion_gold_df,
    ),
    "corpus_funnel": (
        "The LLM curation funnel (round 9 bench entry, VERDICT r8 #2): "
        "lang gate -> quality gate -> exact dedup -> MinHash near-dup "
        "-> media near-dup -> SemDeDup -> decontamination -> shard + "
        "token-budget pack. Each stage PERSISTS its survivor set and "
        "counts it (one job per stage; round 9 fixed the O(stages^2) "
        "recompute where every count re-ran the whole upstream funnel "
        "— MinHash/SemDeDup executed up to 6x), so the composed cost "
        "is the SUM of the stage plans documented above "
        "(minhash_near_dup, contamination_ngram_overlap, "
        "pack_sequences_budget, ...), each reading the previous "
        "stage's cached survivors (InMemoryTableScan below). The plan "
        "shown is the final pack stage over the persisted survivor "
        "set. Round 10 cut the fixed per-stage driver overhead "
        "(VERDICT r9 #2): the row-local gates run as ONE observed job, "
        "connected-components folds its first propagation into label "
        "init and reads convergence from an in-frame flag (no per-round "
        "shuffle join), k-means assigns without shuffling vectors and "
        "updates in one wide aggregation (its rounds nest lazily into "
        "SemDeDup's single action), absent media modalities are pruned "
        "from the plan, and semantic_k follows the SemDeDup paper's "
        "sqrt rule so the pair stage stays ~n^1.5 in docs (SCALE.md "
        "'Corpus curation' has the measured 10x-docs numbers). Round "
        "11 replaces the exact-dedup window with a min_by(struct, id) "
        "aggregate: duplicates collapse in the partial (map-side) "
        "aggregate below the single Exchange, so a mega-duplicated "
        "document can never land on one task (SCALE.md hot-doc probe). "
        "Round 13: a 7-cycle ladder A/B (tools/ab_funnel.py, SCALE.md "
        "'Round 13') cleared all three post-r10 rewrites of the "
        "guard-FAILed wall-time drift — all four code variants read "
        "within 4% on the same box, so the guard reference re-based "
        "with receipts; and counts=\"off\" now fuses the funnel into "
        "one lazy plan (no persists/count barriers) when the per-stage "
        "survivor counts aren't wanted, output bit-identical "
        "(test_funnel_counts_off_fuses_and_matches)."
        ,
        _corpus_funnel_df,
    ),
    "delta_batch_read": (
        "Bench row (round 13, VERDICT r12 #5): tip read through "
        "read_delta_log_table over a 10-commit + MOR-delete fixture — "
        "wall-time protection for the replay/DV/partition-dim path the "
        "delta_log_read_gold oracle row can't see regressing. The plan "
        "is delta_log_read_gold's (one FileScan, broadcast dims, "
        "budget-gated DV mask); shown here over the bench-shaped "
        "fixture."
        ,
        _delta_batch_read_df,
    ),
    "delta_stream_drain": (
        "Bench row (round 13, VERDICT r12 #5): full availableNow CDF "
        "drain of the same fixture's 11 commits from version 0 — times "
        "the per-commit planning (_replay_state/_unit/latestOffset) "
        "plus the per-file Arrow read path. A micro-batch source has "
        "no static plan; the plan below is the memory-sink read-back, "
        "and the source economics are delta_stream_cdf_gold's "
        "(O(commit) planning, one file per executor partition, "
        "per-file DV masks)."
        ,
        _delta_stream_drain_df,
    ),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    from azure_etl_spark.plans.queries import QUERIES

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — physical-plan evidence for the headline queries",
        "",
        f"Generated by `tools/gen_plans.py` at `{sf_dir}` "
        "(`.explain(\"formatted\")`, AQE on). Each section notes the plan "
        "features that make the query scale; the matching assertions live in "
        "`tests/test_plans_scale.py`.",
        "",
    ]
    items = [(n, note, None) for n, note in COMMENTARY.items()] + [
        (n, note, builder) for n, (note, builder) in SPECIAL.items()
    ]
    for name, note, builder in items:
        df = builder(spark, sf_dir) if builder else QUERIES[name].fn(spark, sf_dir)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # keep plans readable: drop the (verbose) per-node detail section
        # below the tree for the longer plans
        tree, _, detail = plan.partition("\n\n")
        keep = plan if len(plan) < 4000 else tree + "\n\n(… node detail elided; " \
            "regenerate with tools/gen_plans.py for the full output …)\n"
        out += [f"## {name}", "", note, "", "```", keep.rstrip(), "```", ""]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
