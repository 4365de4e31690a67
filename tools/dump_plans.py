"""Regenerate PLANS.md: executed physical plans for headline operators
with the scale-invariant lines the repo's tests pin (scan pruning,
exchange keys, broadcast choices) highlighted.

    python tools/dump_plans.py [sf_dir]   # default /root/testdata/sf0.01
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

QUERIES = [
    (
        "corpus_interleave_order",
        "Stride interleave: the per-source rank exchange is REUSED by the"
        " bucket histogram branch (ReusedExchange); bucket offsets arrive"
        " as a broadcast; the only range sort is the output presentation.",
    ),
    (
        "docs_dup_span_removal",
        "Span-removal census exchanges carry (doc_id, pos, 48-bit h, k)"
        " only; the keeper argmin is one hash-agg on h; text joins back"
        " ONCE by doc_id and is rebuilt row-locally.",
    ),
    (
        "docs_winnow_shared_pairs",
        "Winnowing pair join is an inverted index on the fingerprint hash"
        " (posting-list self-join), never an all-pairs product; the"
        " window-min runs in doc-keyed partitions.",
    ),
    (
        "tpch_revenue_forecast",
        "Q6 filter-agg: every predicate in PushedFilters, 4-column ReadSchema,"
        " no exchange before the 1-row reduce.",
    ),
    (
        "docs_segment_dedup",
        "Census exchanges carry (doc_id, idx, xxhash64(seg)) only; text is"
        " re-attached by ONE doc_id-keyed join and re-sliced row-locally.",
    ),
    (
        "docs_minhash_lsh_pairs",
        "Band entries are narrow (doc_id, band, sig); one exchange serves"
        " sizing + cap + join; Jaccard verify touches candidate pairs only.",
    ),
    (
        "emb_label_centroids",
        "posexplode then (label, dim)-keyed hash-agg: partial_avg rows are"
        " dimension-sized; the embedding array appears in no Exchange.",
    ),
    (
        "emb_lsh_topk",
        "No vector in any Exchange; bucket ids are single projections;"
        " exact re-rank only on candidates.",
    ),
    (
        "events_rolling_1h",
        "RANGE-frame window after one user_id-keyed exchange; no global sort.",
    ),
    (
        "events_dau_wau",
        "The one justified BroadcastNestedLoopJoin: the trailing-7-day range"
        " join targets the dimension-sized day list, after the event stream"
        " collapsed to (user, day) distinct.",
    ),
    (
        "events_cum_users",
        "Cumulative-distinct rewrite: the event log collapses to first-seen"
        " per user (one hash-agg), then per-day counts; the only window runs"
        " over the DAY dimension — no expanding-window distinct anywhere.",
    ),
    (
        "tpch_zonemap_prune",
        "Data-skipping audit: the fact table feeds two map-side-partial"
        " hash-aggs (one per layout); exchanges carry only 2·n_shards zone"
        " rows — the fact rows themselves are never shuffled.",
    ),
    (
        "tpch_bloom_prune",
        "Bloom semi-join: the filter relation broadcasts; the probe side's"
        " only wide op is the per-key all-slices-hit count — no fact-table"
        " shuffle before the filter applies.",
    ),
    (
        "events_bootstrap_ci",
        "Poisson bootstrap: 32 replicates in ONE pass — explode ×B feeds a"
        " map-side partial agg; the only exchange carries B partial rows.",
    ),
    (
        "emb_nprobe_sweep",
        "One cell-assignment pass serves every sweep point: the probe table"
        " broadcasts with nprobe nested in it; the corpus is scanned once"
        " and never reshuffled across sweep points.",
    ),
    (
        "docs_cdc_apply",
        "MERGE INTO as union + last-op-per-key window: ONE doc_id-keyed"
        " exchange, no join; the change feed rides the same shuffle as the"
        " base snapshot.",
    ),
    (
        "tpch_salted_join",
        "Skew-mitigated join: join keys are (l_orderkey, _salt) so a hot"
        " key spreads over 8 partitions; the dim side explodes x8 BEFORE"
        " its exchange; the post-join rollup is a 5-row hash-agg.",
    ),
    (
        "log_token_bigram_novelty",
        "Token-payload census: the only exchanges carry (source, int"
        " bigram) partial rows bounded by |sources| x 65536; the"
        " tokens arrays are consumed inside the scan stage projection.",
    ),
    (
        "docs_topic_tags",
        "Broadcast-lexicon tagging as constant IN-list projections: the"
        " scan stage computes every per-topic hit count in codegen (no"
        " explode, no word shuffle); the only exchanges are the"
        " |sources|-group rollup and the final sort.",
    ),
    (
        "docs_heavy_hitters",
        "Candidate-then-verify heavy hitters: the shard census is cached"
        " and consumed twice; the verify scan semi-joins a BROADCAST"
        " candidate list, so the word-keyed global exchange carries only"
        " candidates (<= n_shards x k by the pigeonhole bound).",
    ),
    (
        "docs_kneser_ney",
        "Bigram KN smoothing: ONE explode over the materialized split"
        " feeds the cached gram-type census; followers/predecessors/total"
        " derive from the census (zipf-bounded), and the doc-side join"
        " keys on the gram string — text never re-splits per element.",
    ),
    (
        "docs_token_runs",
        "Degenerate-repetition QC: JVM split + ONE Arrow run-length stage,"
        " shuffle-free narrow projection — no explode, no per-element"
        " interpreter work.",
    ),
    (
        "corpus_unimax",
        "UniMax waterfilling: one source-keyed hash-agg over the corpus"
        " (map-side partials); every window after it runs on the K-row"
        " dimension-sized plan table.",
    ),
    (
        "docs_split_leakage",
        "Split contamination: ONE exchange keyed on md5(text) carrying"
        " (hash, two longs); leakage decided at group level — no corpus"
        " join-back.",
    ),
    (
        "docs_domain_cap",
        "Per-domain cap: TWO row_number windows — (domain, salt) then"
        " domain over the <= k*n_salt survivors — so a Zipf-hot domain"
        " never serializes into one sort task; census joined unhinted"
        " (domains are fact-proportional, AQE picks the strategy).",
    ),
    (
        "events_wasserstein_drift",
        "W1 drift: the census exchange carries (cents, two longs); the"
        " cumulative window runs over the DISTINCT-cents support only;"
        " the final fold is a 1-row agg.",
    ),
    (
        "docs_length_gini",
        "Gini via Lorenz trapezoid: one (source, n_chars) hash-agg census,"
        " then a support-sized window — no per-source row sort at any"
        " corpus size.",
    ),
    (
        "emb_silhouette",
        "Silhouette: ONE Arrow matmul stage emits cell + the round6"
        " cosine array (no literal-centroid expressions); cube() folds"
        " per-cell and overall rows from one corpus-scale hash agg.",
    ),
    (
        "log_repo_hits",
        "Bipartite HITS: the incidence is hash-partitioned ONCE and each"
        " half-step joins it against a node-sized score table; every L1"
        " total re-enters as a 1-row BroadcastExchange — iterations move"
        " scores, never edges.",
    ),
    (
        "log_repo_adamic_adar",
        "Adamic-Adar: the within-user self-join and the degree join share"
        " the hub-keyed exchange; output is TakeOrderedAndProject —"
        " bounded at C(cap,2) pairs/user by the capped incidence.",
    ),
    (
        "docs_quality_auc",
        "ROC-AUC: one (source, score) census hash-agg; the doubled-rank"
        " cumsum window runs over the CENSUS (score-domain-sized); AUC is"
        " a groups-sized final agg — no corpus sort.",
    ),
    (
        "docs_hill_tail",
        "Hill tail-index: (source, n_chars) census, top-down cumsum over"
        " the support, clipped partial take at the k-cut — the order"
        " statistics never materialize as a row sort.",
    ),
    (
        "corpus_curriculum_order",
        "Curriculum order: quantile cuts from a census window re-enter as"
        " a 1-ROW BroadcastNestedLoopJoin; the only row-scale exchange is"
        " (stage, shard) — per-cell rank tasks, no global sort.",
    ),
    (
        "emb_class_separability",
        "Fisher separability: posexplode collapses to (label, dim)"
        " moments via map-side partials; within-SS from moments — the"
        " centroid never joins back to the corpus; vectors never enter"
        " an Exchange.",
    ),
    (
        "docs_boilerplate",
        "Per-source boilerplate census: every Exchange carries only"
        " (source, xxhash64, doc_id) keys — text never shuffles; the"
        " source-dimension doc counts arrive as a broadcast into the"
        " threshold filter.",
    ),
    (
        "events_pattern_match",
        "Row-pattern regex: one user_id-keyed exchange feeds both the"
        " session window and the (user, session) string agg — the"
        " per-group payload is ONE char per event; final rollup is a"
        " 1-row scalar agg.",
    ),
    (
        "docs_prefix_filter_pairs",
        "AllPairs prefix filtering: the df census and the candidate"
        " self-join share the shingle-hash key; only the rarest"
        " (1-t)-prefix postings enter the join (5.4x fewer joined rows"
        " than the full index at t=0.4); shingle arrays re-attach for"
        " candidate pairs only (two doc_id-keyed joins at output size).",
    ),
    (
        "tpch_basket_rules",
        "Apriori basket mining with NO transaction self-join: the item"
        " census re-enters as a BroadcastHashJoin prune; i<j pairs are"
        " generated row-locally from ONE orderkey-keyed collect; the"
        " 1-row basket count crosses back as BroadcastNestedLoopJoin.",
    ),
    (
        "log_token_cdc_dedup",
        "Content-defined chunking: lag-hash and boundary prefix-sum"
        " windows share ONE per-doc sort; the chunk census exchanges"
        " (32-hex md5, long) at ~1/16 of token volume; the dedup window"
        " partitions by chunk hash — tokens never shuffle as arrays.",
    ),
    (
        "emb_mutual_knn_ivf",
        "IVF mutual mining: cell assignment is the shuffle-free Arrow"
        " matmul; the candidate join broadcasts the assigned B side"
        " (cell co-partitioning at corpus scale); both rank directions"
        " and both neighborhood sums reuse the scored relation — no"
        " cross product anywhere.",
    ),
    (
        "log_dpp_prune",
        "Dynamic partition pruning: the weekday dim filter reaches the"
        " day-partitioned fact scan as a runtime"
        " dynamicpruningexpression PartitionFilter — only the matching"
        " day directories are read; the dim broadcasts.",
    ),
    (
        "events_hourly_densified",
        "Calendar densify: ONE corpus-scale (type, hour) hash-agg; the"
        " spine is sequence-explode off a 1-row bounds aggregate, the"
        " type list broadcasts, and the trailing window runs on the"
        " |types|x|hours| dense frame — nothing row-scale after the"
        " census.",
    ),
    (
        "log_burn_multiwindow",
        "Multi-window burn: one corpus-scale (minute) hash-agg; the"
        " dense spine zero-fill joins minute-keyed; BOTH trailing"
        " windows (5m, 60m) evaluate in a single Window node over the"
        " minutes-sized series — one sort, two frames.",
    ),
    (
        "events_obrien_fleming",
        "Group-sequential looks: the only corpus-scale stage is the"
        " (window, arm) hash-agg with map-side partials; cumulative"
        " moments and the z/boundary algebra run on the 5-row look"
        " census.",
    ),
    (
        "events_shapley_attribution",
        "Shapley attribution: the user window and the per-user groupBy"
        " share ONE user-keyed exchange; the 8-mask census collapses to"
        " a single row and the three channel rows are unions of 1-row"
        " projections.",
    ),
    (
        "events_winsorized_lift",
        "Winsorized lift: value census (map-side partials), cumsum on"
        " the value-DOMAIN-sized table, the exact-p99 cap re-enters as"
        " a 1-row broadcast; capped sums are a second scan, never a"
        " sort.",
    ),
    (
        "events_ipw_ate",
        "Stratified IPW: per-user hash-agg (map-side partials), then a"
        " SINGLE-ROW conditional-sum collapse — every per-stratum"
        " integer rides one aggregate; no join, no window, no float"
        " ever aggregates.",
    ),
]

INVARIANT_RE = re.compile(
    r"PushedFilters: \[[^\]]*[A-Za-z][^\]]*\]|ReadSchema: struct<[^>]*>"
    r"|Exchange hashpartitioning\([^)]*\)|BroadcastHashJoin|SortMergeJoin"
    r"|TakeOrderedAndProject|WholeStageCodegen"
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as E
    from stash_log_parser_spark.session import build_session

    spark = build_session(
        app_name="dump_plans", master="local[8]", shuffle_partitions=8
    )
    out = [
        "# PLANS — executed physical plans of headline operators",
        "",
        f"Regenerate: `python tools/dump_plans.py` (sf_dir={sf_dir}).",
        "Each section: the invariant the tests pin, then the executed plan",
        "(AQE-final) with invariant-bearing lines marked `>>`.",
        "",
    ]
    for name, why in QUERIES:
        df = E.queries()[name](spark, sf_dir)
        df.collect()  # run THIS execution so AQE finalizes it
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = []
        for ln in plan.splitlines():
            mark = ">> " if INVARIANT_RE.search(ln) else "   "
            lines.append(mark + ln.rstrip())
        out += [f"## {name}", "", why, "", "```", *lines[:120], "```", ""]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
