"""Generate PLANS.md: formatted physical plans of the flagship queries,
with the scale-relevant properties annotated.  Run:
python tools/gen_plans.py"""

from __future__ import annotations

import os
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.001"

SHOW = [
    ("topk_by_similarity",
     "Flagship brute-force KNN: one codegen stage, per-partition heaps "
     "(TakeOrderedAndProject), zero exchanges at any corpus size."),
    ("filter_since_ts",
     "Incremental watermark scan: the raw-domain twin predicate reaches "
     "PushedFilters so Parquet row groups are skipped."),
    ("join_user_dim",
     "Dimension enrichment: BroadcastHashJoin — the corpus is never "
     "shuffled for a lookup."),
    ("search_topk_enriched",
     "Full read path: top-k first, broadcast joins on the k rows."),
    ("dedup_minhash_lsh",
     "LSH near-dup: uniform band-hash shuffle keys, equi-join, "
     "no cross product."),
    ("ann_ivf_topk",
     "IVF ANN: broadcast probe list as a semi join -> partition "
     "pruning once the index is written partitionBy(cell)."),
    ("ann_lsh_topk",
     "Sign-LSH ANN: bucket assignment is a narrow codegen expression "
     "(no shuffle); the Hamming-1 probe set arrives as a broadcast "
     "semi join -> partition pruning once written partitionBy(bucket)."),
    ("sim_join_ivf",
     "Similarity join, both sides large: one shuffle co-locates each "
     "IVF cell, quadratic work confined within cells, per-source top-k "
     "as a windowed rank inside the already-blocked partition."),
    ("knn_join_pandas",
     "Query-set KNN, partial top-k: per-partition GEMM emits k rows per "
     "query per partition; the rank window's exchange is k*Q*partitions "
     "rows, never corpus*Q."),
    ("sim_join_ivf_pandas",
     "The same similarity join with the within-cell kernel as one BLAS "
     "GEMM per cell (FlatMapGroupsInPandas) — vectorized C instead of "
     "an interpreted higher-order dot per pair; ~10x at sf0.1."),
    ("dedup_lsh_star",
     "LSH with star edges for oversized buckets: bucket sizes/mins via "
     "partial-aggregated groupBy (no Window over members), O(n) output "
     "for mega buckets, identical connected components."),
    ("dedup_simhash_hamming",
     "Hamming<=2 SimHash pairs: bit-slice blocking (pigeonhole over 3 "
     "fingerprint slices) keeps candidates same-slice only; verify is "
     "one xor+popcount per candidate."),
    ("tpch_q1_pricing_summary",
     "Keyed aggregation: partial (map-side) aggregate before the "
     "single shuffle."),
    ("sim_join_ivf_p2",
     "Cross-cell (p=2) similarity join: every vector in its two nearest "
     "cells, per-cell GEMM top-k (lossless under multi-assignment), "
     "dedup + re-rank on k-bounded survivors only."),
    ("tpch_q19_disjunctive",
     "Disjunctive pushdown: Catalyst splits the OR-of-ANDs into "
     "per-side implied filters — both scans carry their own pushed "
     "disjunction; part is broadcast."),
    ("pivot_event_type_daily",
     "Pivot with a pinned value dictionary: one groupBy with map-side "
     "partials, no distinct-values pre-job."),
    ("rolling_1h_range_agg",
     "Time-RANGE rolling window: one shuffle on the entity key, "
     "value-based frame over unix_micros."),
    ("tpch_q18_large_orders",
     "HAVING-filtered fact aggregate joined back to its parents: one "
     "keyed exchange for the lineitem groupBy; the join is on the SAME "
     "key so at scale the aggregate side reuses its partitioning "
     "(locally the tiny sides broadcast); top-100 is "
     "TakeOrderedAndProject, never a global sort."),
    ("tpch_q21_waiting_suppliers",
     "EXISTS/NOT-EXISTS double correlation as ONE per-order aggregate: "
     "Spark plans the two conditional countDistincts as a grouped "
     "dedup + FILTER counts (no Expand), two keyed exchanges total "
     "instead of two extra lineitem self-joins."),
    ("tpch_q22_dormant_accounts",
     "Scalar-subquery cutoff as a 1-row broadcast back onto the scan; "
     "NOT EXISTS is a LeftAnti whose right side is date-pruned at the "
     "scan; one keyed exchange for the segment rollup."),
    ("tpch_q16_supplier_part_counts",
     "Distinct-projection substitute for partsupp: 2-column scan -> "
     "dedup shuffle; exclusion list and filtered part both broadcast; "
     "countDistinct re-shuffles on the group key only."),
    ("distinct_users_twophase",
     "count(DISTINCT) in explicit two-phase form: pair-dedup spreads a "
     "hot key across all partitions before the per-key count."),
    ("join_salted_skew",
     "Salted fact->dim join (R=8): join key is (user_id, salt) so a "
     "hot user splits across 8 reducers; exact oracle = plain join. "
     "At fixture scale Catalyst broadcasts and the salt is inert."),
    ("spend_quartile_scan",
     "Quantile bucketing without ntile's single-partition global "
     "window: cutpoints from one aggregation broadcast back as a "
     "1-row build side; bucket assignment rides the scan."),
    ("tpch_q2_min_cost_supplier",
     "Correlated MIN decorrelated: supply agg and per-part min hash on "
     "the same key, so the min side reuses the supply exchange; part "
     "and supplier broadcast; ties kept for determinism."),
    ("tpch_q4_order_priority",
     "EXISTS with a non-equi residual: LEFT SEMI hash join on the equi "
     "key, date comparison as the join condition — each order emitted "
     "at most once, no row explosion."),
    ("tpch_q15_top_supplier",
     "MAX-of-aggregate: per-supplier revenue (one keyed exchange), "
     "global max as a partial-aggregated 1-row broadcast cross join, "
     "argmax-with-ties after grid rounding."),
    ("tpch_q17_small_quantity_revenue",
     "Correlated AVG joined back on its own grouping key: the "
     "aggregate side reuses the fact exchange (no second lineitem "
     "shuffle); brand-filtered part dim broadcasts."),
    ("ann_pq_topk",
     "Product-quantization ANN: encode is one Arrow GEMM stage; the "
     "ADC serving path is expression-only (distance table folded in "
     "as a literal, m lookups+adds per row), zero exchanges, "
     "TakeOrderedAndProject top-k."),
    ("ann_ivfpq_topk",
     "IVF x PQ composition: broadcast probe list prunes cells before "
     "the ADC scan (partition pruning once codes are stored "
     "partitionBy(cell)); exact re-rank joins the 50-row shortlist "
     "back by broadcast — (nprobe/nlist) x (1/64) of the bytes."),
    ("tpch_q6_forecast_revenue",
     "Pure scan-filter-aggregate: every predicate in PushedFilters, "
     "map-side partial sum, zero joins and zero keyed shuffles."),
    ("tpch_q7_volume_shipping",
     "Nation-pair volume: both nation slices pre-join broadcast-side "
     "before touching facts; the disjunctive pair condition is a "
     "post-join residual; one orderkey shuffle."),
    ("tpch_q8_market_share",
     "Eight-way join where every dimension chain is a broadcast build "
     "side; lineitem shuffles once (vs date-filtered orders); share "
     "divides two grid-rounded sums from ONE conditional aggregation."),
    ("tpch_q9_product_profit",
     "Fact x two dimension chains + order header: name-filtered part "
     "broadcast prunes lineitem first; supplier/nation broadcast; "
     "shuffles are lineitem->orders and the (nation, year) agg."),
    ("tpch_q11_important_stock",
     "HAVING-over-global-scalar decorrelated: per-part agg and 1-row "
     "total from the same nation-pruned slice; total returns as a "
     "broadcast cross join."),
    ("tpch_q12_shipping_priority_class",
     "Cross-table lateness predicate as a join residual (scan-side "
     "date window pushed down); conditional sums in one pass."),
    ("tpch_q13_customer_distribution",
     "LEFT OUTER with the filter inside the join condition (nullable "
     "side) to keep zero-order customers; custkey agg reuses the join "
     "exchange; count-of-counts is dozens of rows."),
    ("tpch_q20_part_promotion",
     "Doubly nested IN decorrelated bottom-up: (supp,part) agg, semi "
     "join to broadcast part slice, distinct, broadcast semi into the "
     "nation-filtered supplier dim — membership only, no re-scans."),
    ("percent_rank_scan",
     "Distributed percent_rank/cume_dist — the scale-safe twin of the "
     "percent_rank_cume_dist parity form (hazard pair, same oracle): "
     "broadcast percentile cutpoints, scan-side bucket assignment, "
     "offsets via a 32-row broadcast theta-join, within-bucket rank "
     "over a PARTITIONED window. No WindowExec-without-partition "
     "anywhere; ntile's pair is spend_quartile_scan."),
    ("zorder_clustered_scan",
     "Z-order clustered copy + two-column range scan: pure-Column bit "
     "interleave, repartitionByRange write, both filters prune row "
     "groups on the clustered layout (stats proof in test_zorder)."),
    ("keyset_pagination",
     "Keyset (seek) pagination — the scale twin of sort_ts_pagination "
     "(hazard pair): the (ts, id) cursor predicate reaches "
     "PushedFilters and the page is TakeOrderedAndProject; page depth "
     "is free, unlike OFFSET."),
    ("pack_sequences_greedy",
     "Exact greedy sequence packing: one FlatMapGroupsInPandas pass "
     "per shard (the parallel grain), O(1) state per task; the "
     "scan-riding floor-cumsum twin is pack_sequences_budget."),
    ("bucketed_colocated_join",
     "Bucketed fact-to-fact join: bucketBy(8, key) on both sides -> "
     "SortMergeJoin over Bucketed: true scans with ZERO pre-join "
     "exchange — the write paid the shuffle once; the recurring-join "
     "strategy next to broadcast (dims) and shuffle (ad hoc)."),
    ("ann_ivf_filtered",
     "Filtered (hybrid) ANN: the metadata predicate composes with the "
     "IVF probe inside the probed cells — selectivity stacks with "
     "cell pruning; pre-filter beats post-filtering the top-k."),
    ("window_rank_family",
     "rank/dense_rank/first/last/nth_value in one partitioned pass: "
     "all windows share one partition key and ordering -> a single "
     "exchange + sort; last_value pinned to the explicit "
     "unbounded-following frame."),
    ("pipeline_training_batches",
     "Dataloader capstone: mixture re-weighting (broadcast stats + "
     "scan-riding hash admission) into greedy 512-token packing — one "
     "shard exchange carries the whole chain."),
    ("ann_ivfpq_materialized",
     "IVF x PQ served from the PERSISTED index: probe the centroid "
     "sidecar driver-side, then BOTH the code scan and the re-rank "
     "scan read ONLY the probed cell directories (explicit-dirs "
     "_read_cells listing, r17) — no training, no assignment, cells "
     "outside the probe set are never even listed."),
    ("text_gopher_rules",
     "Gopher quality battery: every rule a Column expression riding "
     "ONE narrow scan stage — no UDF, no shuffle; per-rule booleans "
     "let a corpus report group by failing rule."),
    ("vocab_coverage",
     "Vocabulary induction: explode -> one keyed count with map-side "
     "partials, top-V as a bounded heap, coverage measured over the "
     "vocab-sized COUNTS via broadcast — the corpus is read once."),
    ("corpus_report",
     "Corpus dashboard row: fingerprint + token count + language flag "
     "computed in the scan projection, one aggregation with map-side "
     "partials; countDistinct(fp) is the only keyed exchange."),
    ("store_bucket_stats",
     "Range-store occupancy read off the _bkt partition directories "
     "(partition-column groupBy, no data-column bytes); oracle "
     "recomputes the layout function from the raw table — green "
     "means every key lives where directory pruning assumes."),
    ("text_bm25_topk",
     "Okapi BM25 for a fixed term list: per-term tf as "
     "size(filter(tokens)) in the scan projection (no explode), corpus "
     "stats as ONE broadcast row, TakeOrderedAndProject top-k — no "
     "data-dependent shuffle at any corpus size."),
    ("hybrid_search_rrf",
     "Hybrid retrieval: each leg's top-50 is a TakeOrderedAndProject "
     "prefix ranked by a k-bounded row_number window (the limit sits "
     "below the window, so its single-partition exchange sees 50 "
     "rows, r17 — one plan, no per-leg checkpoint jobs); the RRF "
     "fuse joins two 50-row frames — fusion cost is "
     "corpus-independent."),
    ("ann_truncated_rerank",
     "Matryoshka-style adaptive retrieval: shortlist on the 16-dim "
     "head (quarter of the vector bytes with a write-time head "
     "column), broadcast the ids, exact re-rank at full width — two "
     "bounded heaps, one broadcast, zero shuffles."),
    ("dedup_semdedup",
     "SemDeDup: IVF cells as the quadratic guard — pairwise cosine is "
     "an equi-join on cell with per-row hoisted norms; the dropped-id "
     "set broadcasts back onto the assignment for the keep verdict."),
    ("corpus_overlap_matrix",
     "Cross-source contamination: the join key is the SHINGLE "
     "(vocabulary-bounded shuffle), source-pair counts come out of "
     "map-side partials — documents^2 never materializes."),
    ("topk_mmr_diverse",
     "MMR diversification: corpus contributes one TakeOrderedAndProject "
     "shortlist; the localCheckpoint pins it at 50 rows, the pairwise "
     "stage is a broadcast self-join of that frame, and the sequential "
     "greedy loop is one applyInPandas group — corpus size never "
     "reaches the greedy stage."),
    ("embedding_centroid_drift",
     "Snapshot drift monitor: posexplode -> grouped avg on the uniform "
     "(label, pos) key; partials collapse each partition to labels x "
     "dim rows before the shuffle, and the drift join touches only "
     "that reduced frame."),
    ("rerank_cross_encoder",
     "Two-stage retrieval: BM25 ordered-limit shortlist, candidate "
     "texts broadcast back by id, the pair scorer an Arrow-batched "
     "pandas UDF over ONLY those rows — inference cost bounded by the "
     "candidate count at any corpus size."),
    ("dpp_dim_filtered_scan",
     "Dynamic partition pruning: the broadcast dim's day set reaches "
     "the fact scan as dynamicpruningexpression inside "
     "PartitionFilters — runtime directory pruning, no literal "
     "needed."),
    ("text_index_upsert",
     "BM25 served after an incremental index upsert: postings pruned "
     "to the query terms' buckets (partition filter), the tombstone "
     "set enters as a broadcast join, stats recount live rows — the "
     "serving plan is unchanged by maintenance, which is the point of "
     "the generation design."),
    ("ann_index_erase",
     "Post-erasure serving: the same cell-pruned materialized-index "
     "plan as ann_ivfpq_materialized — erasure rewrote victim cells "
     "in place, so the query path carries zero erasure artifacts (no "
     "anti-join, no filter): forgotten rows are physically gone."),
    ("pipeline_forget_and_serve",
     "The composed lifecycle capstone: both legs read MAINTAINED "
     "indexes (pruned postings + tombstone broadcast; cell-pruned "
     "IVFPQ), each ranked by an ordered-limit-fed k-bounded window "
     "(r17), fused over two 50-row frames — maintenance never adds a "
     "corpus-sized stage to serving."),
    ("search_index_many",
     "Batched multi-query IVFPQ serving: the union of all probes "
     "selects the cell directories both passes read (explicit-dirs "
     "listing, r17), each "
     "query's ADC column rides the single pruned code scan, and the "
     "only exchange is the qid-partitioned shortlist window over "
     "narrow (qid, id, score) rows — Q queries, one scan, one "
     "scheduler pass."),
    ("bpe_encode_corpus",
     "Tokenizer apply (after driver-side merge training): the whole "
     "encode is one narrow projection — the trained merges as a "
     "literal replace chain inside per-token higher-order functions, "
     "ids from a literal vocab array — zero exchanges at any corpus "
     "size."),
    ("text_search_many",
     "Batched multi-query BM25: the union of all query terms prunes "
     "the postings once, doclen yields one stats row + one "
     "matching-docs join, and with Q >= 2 queries both are "
     "checkpointed so each query's scoring is an expression-only "
     "subplan over the shared checkpoints; the qid-partitioned window "
     "ranks a k-bounded union, pinned before the checkpoints are "
     "released (a one-query batch takes no checkpoint and stays one "
     "lazy plan)."),
    ("hybrid_serve_many",
     "Batched hybrid capstone: Q (terms, vector) pairs cost TWO index "
     "reads total — the batched BM25 serve and the batched IVFPQ "
     "serve each rank with their own qid-partitioned top-50 window, "
     "both legs are collected concurrently (the collect stages, at "
     "most Q x 50 rows each), and the RRF fusion + per-qid top-10 run "
     "on the driver, so the final plan is a LocalTableScan of the "
     "fused rows."),
    ("ann_ivfpq_filtered_materialized",
     "Metadata-filtered ANN serve: the where predicate PRE-filters the "
     "cell-pruned code scan (pushed into the explicit-dirs read), "
     "so metadata selectivity stacks with partition pruning before any "
     "ADC work — a true hybrid filter, not a recall-losing post-filter "
     "of the top-k."),
    ("text_index_filtered_search",
     "Metadata-filtered BM25 serve: the predicate gates the doclen "
     "sidecar, a semi join confines postings to eligible docs, and "
     "every corpus statistic (N, avgdl, df) recounts over the slice — "
     "bit-identical to an index built on the slice, at the cost of one "
     "dimension-sized semi join."),
    ("search_index_many_large",
     "Large-Q batched IVFPQ serving (the broadcast-data strategy): "
     "the per-query ADC tables are DATA in a broadcast (qid, table) "
     "frame, a broadcast (qid, cell) probe frame replicates each code "
     "row to exactly the queries that probed its cell, one element_at "
     "fold scores every pair, and the shortlist window plans as a "
     "WindowGroupLimit (map-side partial top-k before the exchange) — "
     "plan size constant in Q, ~flat wall time through Q=100."),
    ("dsir_importance_sample",
     "DSIR data selection: the vocabulary-sized log-ratio table "
     "CO-PARTITIONS on the uniform token key (never broadcast); the "
     "two scalar totals broadcast as one-row frames; the per-doc mean "
     "is a map-side-partial aggregate and the final top-k is "
     "TakeOrderedAndProject — no corpus-sized sort or window."),
    ("tokenizer_fertility_by_source",
     "Tokenizer fertility audit: the trained-merge encode rides the "
     "corpus scan as pure higher-order expressions, word counts ride "
     "a second narrow scan, and the per-source report is one "
     "partial-aggregated groupBy."),
    ("text_search_many_large",
     "Large-Q batched BM25 (the broadcast-data strategy): a broadcast "
     "(qid, term, qpos, df) frame replicates each pruned posting to "
     "the queries containing its term, ONE (qid, doc) aggregation "
     "pivots tf/df per query-term position, a gated scoring fold "
     "ranks every query, and the top-k window plans as a "
     "WindowGroupLimit — no per-query subplans, no Union, plan "
     "constant in Q."),
    ("mix_token_budget",
     "Token-budget data mixing as a DISTRIBUTED PREFIX SUM: the "
     "(hash, id) admit order is cut into range buckets of the 48-bit "
     "hash space, each (source, bucket) window computes its local "
     "running sum in parallel (the big Window below is partitioned by "
     "BOTH keys — per-window state is corpus/(sources x buckets), "
     "never a whole source), the dimension-bounded bucket totals "
     "cumulate in a tiny per-source window (sources x buckets rows) "
     "and come back as a BroadcastHashJoin, and the budget gate rides "
     "the same broadcast join's condition. No per-source serialized "
     "window anywhere — sources are exactly the hot keys at 100 TB. "
     "The DuckDB oracle computes the same totals as ONE flat window "
     "cumsum, value-verifying the decomposition; "
     "tests/test_corpus_audits.py pins decomposition == flat window "
     "for buckets in {1, 4, 64}."),
    ("text_bigram_perplexity",
     "Interpolated bigram-LM perplexity gate: one bigram count "
     "aggregate and one unigram count aggregate (uniform token keys, "
     "map-side partials); the scoring join co-partitions on the "
     "bigram then the unigram key — count tables are vocabulary- "
     "sized, so nothing vocabulary-shaped is ever broadcast; the "
     "single scalar total is. Since r13 the join INPUT is the per-doc "
     "DISTINCT-bigram frame (doc, u, w, c) — documents repeat "
     "bigrams, so pre-aggregating before the three count joins "
     "strictly shrinks shuffle volume and the per-doc mean weights by "
     "c (identical value, verified against the naive per-occurrence "
     "oracle). Per-doc means collapse map-side; the final top-k is "
     "TakeOrderedAndProject."),
    ("dedup_containment",
     "Containment dedup (|AnB| / min(|A|,|B|)): identical economics "
     "to the Jaccard verification stage — one shingle-keyed self-join "
     "bounded by the blocking key (the shared "
     "_blocked_shingle_intersections stage), inclusion-exclusion "
     "against per-doc set sizes — with the asymmetric containment "
     "score alongside Jaccard so subset duplication (excerpt/quote/ "
     "boilerplate inclusion) is caught at containment ~1.0 where "
     "Jaccard reads ~0.5."),
    ("span_corruption",
     "T5 span corruption as ONE narrow Project over the scan — the "
     "entire transform (block-start hashing, per-position mask test, "
     "sentinel splice, target assembly, mask accounting) folds into "
     "per-row codegen expressions: no shuffle, no window, no join, no "
     "UDF. Block-local spans are what make this possible (each "
     "position consults only its own block's hash-drawn start), so "
     "the operator costs a map pass at any corpus size. The "
     "reconstruction invariant (input + target splice back to the "
     "original stream) is property-tested; the oracle rebuilds both "
     "strings token-for-token."),
    ("dedup_unaligned_substring",
     "Unaligned repeated-substring dedup (the overlapping-window "
     "upgrade over dedup_repeated_chunks' fixed grid): one narrow "
     "transform emits a window hash at EVERY token position, corpus- "
     "wide counts via partial-aggregated groupBy on the uniform "
     "48-bit key, the count join is an equi-join on that key, "
     "coverage explodes only duplicate windows (k positions each), "
     "and reassembly is one anti join + per-doc ordered collect. A "
     "duplicate passage shifted off the chunk grid by one token is "
     "caught; no stage is corpus-quadratic."),
    ("maxsim_topk",
     "ColBERT MaxSim late interaction, brute force: the whole "
     "sum-of-max-cosines score (4 query token vectors as literals x 8 "
     "doc token views sliced from the stored array, per-pair 6dp "
     "rounding before the order-free max) is ONE codegen projection "
     "riding the corpus scan, bounded by TakeOrderedAndProject — the "
     "flagship knn_search shape with a richer score; zero exchanges "
     "at any corpus size."),
    ("maxsim_serve_many",
     "Batched MaxSim serving: Q queries' token vectors (+ driver- "
     "precomputed norms) broadcast as DATA, ONE corpus scan scores "
     "all queries via an aggregate fold over the broadcast row's "
     "token array, per-query top-k via the rank window — constant "
     "plan in Q (the search_index_many discipline applied to late "
     "interaction). At very large Q x corpus the knn_join_pandas "
     "partial-top-k GEMM twin generalizes."),
    ("maxsim_join_pandas",
     "The GEMM twin of batched MaxSim with PARTIAL top-k: one BLAS "
     "GEMM per partition over the stacked doc-token matrix scores "
     "every query (MapInPandas on the single corpus scan), each "
     "partition emits only its own top-k per query, so the rank "
     "window's exchange is k*Q*partitions rows — never corpus*Q. "
     "Per-pair 6dp rounding before the order-free max and explicit "
     "ascending-i accumulation keep it bit-identical to the "
     "expression form (shared oracle)."),
    ("ann_signbit_rerank",
     "Binary-quantized ANN: sign-bit sketches (48 dims packed into "
     "one long — at write time the store keeps ONE long per vector, "
     "32x fewer shortlist bytes than float32), Hamming xor+popcount "
     "against the query's sketch literal, TakeOrderedAndProject "
     "shortlist on (hamming asc, id), broadcast exact-cosine re-rank "
     "of 64 survivors — the truncated_rerank shape with an integer "
     "sketch instead of a head slice."),
    ("search_rocchio_feedback",
     "Pseudo-relevance feedback (Rocchio): feedback pass = the "
     "flagship TakeOrderedAndProject top-10, centroid+blend on the "
     "collected k rows (driver-bounded), second pass = the same "
     "flagship plan with the expanded literal — two bounded corpus "
     "scans, zero shuffles, no stage grows with k or corpus."),
    ("maxsim_hybrid_rrf",
     "Hybrid BM25 + late-interaction retrieval: each leg is one "
     "bounded top-50 rank frame (one corpus scan per leg), RRF "
     "fusion over k-bounded frames via broadcast joins — every stage "
     "after the two scans is candidate-bounded."),
    ("text_novelty_score",
     "Per-doc novelty from the shared overlapping-window stage: one "
     "window-hash explode riding the scan, ONE map-side-partialed "
     "count aggregate on the uniform 48-bit key, count equi-join "
     "back, one per-doc aggregate — the score-don't-rewrite "
     "rendering of unaligned substring dedup; no stage is "
     "corpus-quadratic."),
]


def simplify(plan: str, max_expr: int = 160) -> str:
    """Truncate giant embedded literal arrays/lambdas for readability,
    and write what changes between two runs of the same code in one
    fixed form: temp-dir names become ``<tmpdir>``, a file location
    Spark cut short after one becomes ``<tmpdir>...`` (where Spark
    cuts depends on the temp-dir name's length), and expression and
    plan ids are renumbered by first appearance (concurrent legs draw
    ids from one JVM counter in thread order)."""
    plan = re.sub(re.escape(tempfile.gettempdir()) + r"/[\w-]+",
                  "<tmpdir>", plan)
    plan = re.sub(r"<tmpdir>[^\s,\]]*\.\.\.", "<tmpdir>...", plan)
    for pat in (r"#(\d+)", r"plan_id=(\d+)"):
        ids: dict = {}
        plan = re.sub(pat, lambda m: m.group(0).replace(
            m.group(1), str(ids.setdefault(m.group(1), len(ids) + 1))),
            plan)
    plan = re.sub(r"\[([-0-9.Ee,]{120,})\]", "[<literal vector>]", plan)
    out = []
    for line in plan.splitlines():
        out.append(line if len(line) <= 300 else line[:297] + "...")
    return "\n".join(out)


class _StageTracer:
    """VERDICT r13 item 3: a final plan that reads localCheckpoint
    output pins as a bare ``Scan ExistingRDD``, and one built from
    collected rows as a ``LocalTableScan`` — the whole claimed
    pipeline hides behind the checkpoint or the collect.  While
    active, this wraps ``DataFrame.localCheckpoint`` and
    ``DataFrame.collect`` (TOOLING-ONLY monkeypatch — the package's
    serving code is untouched) and records each frame's executed plan
    at the moment it is checkpointed or collected, so PLANS.md can
    show every such stage next to the final plan.  Concurrent legs
    record in thread order, so :meth:`stages` numbers the stages
    sorted by label and simplified plan."""

    METHODS = ("collect", "localCheckpoint")

    def __init__(self):
        self._calls: list[tuple[str, str]] = []
        self._real: dict = {}

    def __enter__(self):
        # pyspark 4: pyspark.sql.DataFrame is the abstract base; the
        # runtime class (which OVERRIDES both methods) is
        # sql.classic.dataframe.DataFrame — patch the concrete one
        try:
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:                      # pyspark 3.x
            from pyspark.sql import DataFrame

        self._cls = DataFrame
        for name in self.METHODS:
            self._real[name] = getattr(DataFrame, name)
            setattr(DataFrame, name, self._traced(name, self._real[name]))
        return self

    def _traced(self, name, real):
        calls = self._calls

        def traced(df, *args, **kwargs):
            # *args/**kwargs: forward the full signature (pyspark 4's
            # localCheckpoint also takes storageLevel) — tracing must
            # never change behavior
            try:
                plan = df._jdf.queryExecution().executedPlan().toString()
                cols = ", ".join(df.columns[:8])
                calls.append((f"{name}({cols})", simplify(plan)))
            except Exception:
                pass
            return real(df, *args, **kwargs)

        return traced

    def __exit__(self, *exc):
        for name, real in self._real.items():
            setattr(self._cls, name, real)
        return False

    def stages(self) -> list[tuple[str, str]]:
        return [(f"stage {i}: {label}", plan)
                for i, (label, plan) in enumerate(sorted(self._calls), 1)]


def main() -> None:
    from msg_vector_search_spark import contract
    # the ENGINE's tuned session (r14 review): a raw builder omits the
    # broadcast threshold / AQE / timezone / nanos confs, so the
    # pinned plans could differ from what the engine actually runs
    # (and nanos-timestamp fixtures would fail to read at all)
    from msg_vector_search_spark.session import get_spark

    spark = get_spark("gen_plans")
    lines = [
        "# PLANS — physical plans of the flagship queries",
        "",
        f"Generated by `python tools/gen_plans.py` at {SF} "
        "(plan SHAPE is scale-invariant; only statistics change).",
        "",
        "Pipelines that checkpoint or collect on the way additionally "
        "pin each such stage plan (captured at the localCheckpoint or "
        "collect call, numbered in label order), so a final plan "
        "reading `Scan ExistingRDD` or `LocalTableScan` never hides the "
        "pipeline.  Temp dirs read `<tmpdir>`; expression and plan ids "
        "are renumbered per plan.",
        "",
    ]
    for name, note in SHOW:
        with _StageTracer() as tr:
            df = contract.REGISTRY[name](spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
        stages = tr.stages()
        lines += [f"## `{name}`", "", note, ""]
        for label, stage_plan in stages:
            lines += [f"### {name} — {label}", "", "```",
                      stage_plan.rstrip(), "```", ""]
        if stages:
            lines += [f"### {name} — final plan (over the "
                      "stages above)", ""]
        lines += ["```", simplify(plan).rstrip(), "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLANS.md ({len(SHOW)} plans)")


if __name__ == "__main__":
    main()
