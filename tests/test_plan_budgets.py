"""Shuffle-exchange budgets for the headline bench set — plan-regression
tripwire.  Each budget is the CURRENT measured exchange count (PLANS.md,
round 4); a future edit that adds an exchange (lost broadcast, lost
stage reuse, accidental repartition) fails here before it ever reaches a
benchmark.  Budgets are upper bounds: going lower is progress, not a
failure."""

from __future__ import annotations

import pytest

from impala_avx2_parquet_scanner_spark.plans import exchange_count
from impala_avx2_parquet_scanner_spark.registry import REGISTRY


#: query -> max shuffle exchanges (from PLANS.md at round 4)
BUDGETS = {
    "tpch_q1": 1,
    "tpch_q2": 4,  # static pre-AQE count after de-pinning the SF-scaled
    # supplier-side broadcasts (round-6): the cost model can't size the
    # sup join subtree statically, so it plans 2 extra exchanges that AQE
    # converts back to broadcast at runtime (final plan: BroadcastHashJoin
    # on every dimension side at sf0.01/sf0.1).
    "tpch_q3": 1,
    "tpch_q4": 1,
    "tpch_q5": 1,
    "tpch_q6": 1,
    "tpch_q7": 1,
    "tpch_q8": 1,
    "tpch_q9": 3,
    "tpch_q10": 1,
    "tpch_q11": 6,
    "tpch_q12": 1,
    "tpch_q13": 2,
    "tpch_q14": 1,
    "tpch_q15": 4,
    "tpch_q16": 3,
    "tpch_q17": 2,
    "tpch_q18": 1,
    "tpch_q19": 1,
    "tpch_q20": 4,
    "tpch_q21": 3,
    "tpch_q22": 2,
    "selectivity_050": 1,
    # pipeline scale paths
    "dedup_exact": 1,
    "dedup_minhash_lsh": 3,  # round-11: the bucket self-join is gone —
    # signature window + doc groupBy share one exchange, then the
    # (band, band_key) bucket groupBy and the pair rollup (PLANS.md)
    "pipeline_curate": 2,  # +1 round-10: spread_table's conditional hash
    # repartition of the one-file local fixture (guide §2.5); at real
    # scale (scan splits >= cores) the spread is a no-op and the plan is
    # the original single exchange.
    "ann_ivf_topk": 3,
    "dedup_incremental": 4,
    # unrolled-iteration training loops (persisted invariant input)
    "text_bpe_train": 9,  # 8 at sf0.01; join strategy shifts with stats
    "text_bpe_encode": 14,  # 11 at sf0.01; join strategy shifts with stats
    # round-4 additions (persisted invariants; see PLANS.md)
    "scan_avro_roundtrip": 1,
    "multimodal_phash_neardup": 2,
    "events_interpolate": 3,
    "graph_triangles": 16,  # round-10 adjacency-intersection form: the
    # wedge self-join pair is gone; counts come from one collect_list agg
    # + two keyed attach joins over the oriented edges (static plan; AQE
    # converts the attach sides to broadcast at runtime when they fit).
    # 15 -> 16 when adj gained a persist: the cached collect_list subtree
    # prints its own exchange AND each attach leg still plans a repartition
    # of the cache read — one more STATIC exchange, but the build itself
    # now runs once instead of twice (stage profile showed twin ~90 CPU-s
    # stages; interleaved A/B min 5.27 -> 3.79 s at sf0.1).
    "window_ewma": 1,
    "dedup_containment": 7,  # codegen shingle path: window + distinct + df/agg
    # joins; 5 when stats let the df-cap join broadcast, 7 when it shuffles
    # round-4 session-3 additions
    "join_skew_salted": 3,  # salted shuffle join + two-phase agg
    "join_asof_nearest": 2,  # view dedup agg + one union window shuffle
    "window_sliding_median": 1,
    "events_interval_union": 1,  # one keyed shuffle feeds both windows + aggs
    "agg_hll_native": 6,  # exact count_distinct beside the sketch doubles each grain
    "events_rfm": 3,  # user agg + two tiny broadcast-side aggs
    "join_bucketed_colocated": 1,  # co-located SMJ: only the final rollup shuffles
    "agg_kmv_intersect": 6,  # persisted per-set distincts + k-row top-k merges
    "dedup_edit_distance": 2,  # 0 when the block self-join broadcasts
    "sql_lateral_topk": 1,  # decorrelated to one windowed shuffle
    "fn_variant_path": 0,
    "agg_weighted_median": 2,  # (group,value) pre-agg + group window
    "fn_base64_hex": 0,
    "events_funnel_windowed": 1,  # one user_id shuffle feeds all three windows
    "events_attribution_multitouch": 1,  # user-keyed interval join reused by the window
    "agg_entropy_gini": 4,  # persisted (user,type) histogram + rollup/entropy joins
    "pred_like_advanced": 0,
    "text_bm25_topk": 4,  # 1 token->doc agg + stats/dfreq aggs over the tiny persisted doc table + topk
    # round-8 additions (PLANS.md: every fledir scan is one keyed rollup)
    "scan_fle_multicolumn": 1,
    "scan_fle_stat_pruned": 1,
    "scan_fle_chunk_pruned": 1,
    "scan_fle_signed": 1,
    "fn_char_semantics": 1,
}


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_exchange_budget(spark, sf_dir, name):
    df = REGISTRY[name].fn(spark, sf_dir)
    got = exchange_count(df)
    assert got <= BUDGETS[name], (
        f"{name}: {got} exchanges > budget {BUDGETS[name]} — a broadcast, "
        "stage reuse, or pushdown was probably lost; compare PLANS.md"
    )


#: Round-10 spread-pin tripwire: spread_table exists to move expensive
#: per-row CPU behind a local repartition, but Catalyst pushes
#: deterministic filters AND pruning projections straight through
#: RepartitionByExpression back into the single-split scan task, silently
#: re-serializing that CPU (stage profiles: curate's 12-regex lang-ID gate
#: and the tokenize projections of pmi/logprob/entropy all ran below the
#: exchange).  pin_above_spread (catalog.py) blocks the push with a
#: nondeterministic tautology; this test asserts the marker expression of
#: each pinned query stays OUT of every repartition's subtree so a future
#: refactor (or optimizer-rule change) that re-sinks the work fails here.
SPREAD_PINNED = {
    "pipeline_curate": ("regexp_extract_all",),  # lang-ID marker regexes
    "text_bigram_pmi": ("regexp_replace",),      # tokenize projection
    "text_unigram_logprob": ("regexp_replace",),
    "text_entropy": ("regexp_replace",),
    "dedup_simhash": ("regexp_replace",),        # tokenize projection
}


@pytest.mark.parametrize("name", sorted(SPREAD_PINNED))
def test_heavy_work_stays_above_spread(spark, sf_dir, name):
    df = REGISTRY[name].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan()
    offenders: list[str] = []
    n_repart = 0

    def walk(node):
        nonlocal n_repart
        if "Repartition" in node.getClass().getSimpleName():
            n_repart += 1
            child = "\n".join(node.toString().splitlines()[1:])
            offenders.extend(h for h in SPREAD_PINNED[name] if h in child)
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(plan)
    # Vacuous-pass guards (ADVICE r10): the tripwire only means anything
    # if (a) the marker expression still exists in the plan at all (a
    # tokenize/lang-ID rename must fail loudly, not silently disarm the
    # test) and (b) the spread actually produced a Repartition on this
    # fixture (single-file fixtures < test parallelism, so it must).
    full = plan.toString()
    missing = [h for h in SPREAD_PINNED[name] if h not in full]
    assert not missing, (
        f"{name}: marker(s) {missing} absent from the optimized plan — "
        "the expression was renamed/removed; update SPREAD_PINNED so the "
        "tripwire keeps guarding the real expensive work"
    )
    assert n_repart >= 1, (
        f"{name}: no Repartition node in the plan — spread_table became "
        "a no-op on this fixture and the tripwire is vacuous"
    )
    assert not offenders, (
        f"{name}: {sorted(set(offenders))} found below a repartition — "
        "the expensive expression was pushed back into the scan task; "
        "check pin_above_spread usage (catalog.py)"
    )
