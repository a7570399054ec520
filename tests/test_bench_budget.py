"""Unit tests for bench.py's pure honesty machinery (round 9).

Two code paths landed in round 9 that a healthy box never exercises in
a real bench run — the ``value_steady`` substitution fallback (only
fires when ``retime_skipped`` > 0) and the retimed-map byte budget on
the one-line JSON (only matters when dozens of queries flag, the
advisor's 60-entry drifting-box scenario). Both are pure functions so
they are pinned here with synthetic inputs; no SparkSession needed.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (  # noqa: E402
    PINNED_LINE_QUERIES,
    budget_line,
    parse_prev_profile,
    run_duckdb_anchor,
    steady_substitutions,
    wait_for_quiet_box,
)


# ----------------------------------------------------------- prev profile


def test_prev_profile_requires_same_sf():
    prev = {"sf": 0.01, "queries": {"q_a": 1.0}}
    assert parse_prev_profile(prev, 0.1) == ({}, None)
    assert parse_prev_profile(prev, None) == ({}, None)


def test_prev_profile_prefers_solo_retimes_and_drops_nulls():
    prev = {
        "sf": 0.1,
        "queries": {"q_a": 3.0, "q_b": 1.0, "q_failed": None},
        "retimed": {
            "q_a": {"suite": 3.0, "solo_min2": 0.5, "prev_idle": 0.4},
            # a failed solo re-time must not shadow the in-suite value
            "q_b": {"suite": 1.0, "solo_min2": None, "prev_idle": 0.9},
            # a retimed-only query (suite value was null) still lands
            "q_failed": {"suite": 9.0, "solo_min2": 2.0, "prev_idle": 1.5},
        },
        "load_avg": {"start": [0.1, 0.2, 0.3]},
    }
    profile, load = parse_prev_profile(prev, 0.1)
    assert profile == {"q_a": 0.5, "q_b": 1.0, "q_failed": 2.0}
    assert load == [0.1, 0.2, 0.3]


def test_prev_profile_solo_never_raises_reference():
    # a solo re-time WORSE than the in-suite value (contended retime
    # pass, round-9 run 5) must not loosen the >1.5x flag threshold
    prev = {
        "sf": 0.1,
        "queries": {"q_a": 0.5},
        "retimed": {"q_a": {"suite": 0.5, "solo_min2": 1.2, "prev_idle": 0.4}},
    }
    profile, _ = parse_prev_profile(prev, 0.1)
    assert profile == {"q_a": 0.5}


def test_prev_profile_tolerates_missing_sections():
    assert parse_prev_profile({"sf": 0.1}, 0.1) == ({}, None)


class FakeBox:
    """Injectable clock/samplers for wait_for_quiet_box: time advances
    only via sleep; load and cumulative steal are step functions of it."""

    def __init__(self, load_at, steal_rate_at):
        self.t = 0.0
        self._load = load_at          # t -> 1-min load average
        self._rate = steal_rate_at    # t -> steal cpu-sec per wall sec
        self._steal_acc = 0.0

    def clock(self):
        return self.t

    def sleep(self, sec):
        # accumulate steal at the rate in effect over the slept window
        self._steal_acc += self._rate(self.t) * sec
        self.t += sec

    def loadavg(self):
        return (self._load(self.t), 0.0, 0.0)

    def steal(self):
        return self._steal_acc

    def run(self, **kw):
        return wait_for_quiet_box(
            load_max=kw.pop("load_max", 0.5),
            steal_max=kw.pop("steal_max", 0.25),
            wait_budget=kw.pop("wait_budget", 300.0),
            sample_sec=kw.pop("sample_sec", 5.0),
            loadavg_fn=self.loadavg,
            steal_fn=kw.pop("steal_fn", self.steal),
            sleep_fn=self.sleep,
            clock_fn=self.clock,
            **kw,
        )


# ----------------------------------------------------------- quiet guard


def test_guard_passes_quiet_box_immediately():
    box = FakeBox(load_at=lambda t: 0.1, steal_rate_at=lambda t: 0.05)
    g = box.run()
    assert g["proceeded_loaded"] is False
    assert g["steal_rate_first"] == 0.05
    assert g["steal_rate_last"] == 0.05
    assert g["waited_sec"] == 5.0  # exactly one steal sample window


def test_guard_waits_out_steal_burst_at_low_load():
    # the round-9 run-2 scenario: load average fine, host contended;
    # burst (0.55 cpu/s) ends at t=60, then quiet (0.11 cpu/s)
    box = FakeBox(
        load_at=lambda t: 0.1,
        steal_rate_at=lambda t: 0.55 if t < 60 else 0.11,
    )
    g = box.run()
    assert g["proceeded_loaded"] is False
    # round-10 advisor fix: both ends of the wait are recorded — the
    # burst the guard walked into AND the quiet sample that cleared it
    assert g["steal_rate_first"] == 0.55
    assert g["steal_rate_last"] == 0.11
    assert g["waited_sec"] >= 60.0  # did not start inside the burst


def test_guard_gives_up_after_budget_and_says_so():
    box = FakeBox(load_at=lambda t: 2.0, steal_rate_at=lambda t: 0.0)
    g = box.run(wait_budget=60.0)
    assert g["proceeded_loaded"] is True
    assert g["waited_sec"] >= 60.0


def test_guard_skips_steal_signal_off_linux():
    box = FakeBox(load_at=lambda t: 0.1, steal_rate_at=lambda t: 9.9)
    g = box.run(steal_fn=lambda: None)  # /proc/stat unreadable
    assert g["proceeded_loaded"] is False
    assert g["steal_rate_first"] is None
    assert g["steal_rate_last"] is None


def test_guard_zero_wait_budget_still_samples_steal():
    # round-10 advisor fix: SPARK_GRAFT_BENCH_LOAD_WAIT=0 opts out of
    # WAITING, not of measuring — a hot host must still be detected
    # (previously the poll loop never ran, steal stayed None, and
    # proceeded_loaded considered only load average)
    box = FakeBox(load_at=lambda t: 0.1, steal_rate_at=lambda t: 0.55)
    g = box.run(wait_budget=0.0)
    assert g["steal_rate_first"] == 0.55
    assert g["steal_rate_last"] == 0.55
    assert g["proceeded_loaded"] is True


def test_guard_zero_wait_budget_quiet_box_proceeds_clean():
    box = FakeBox(load_at=lambda t: 0.1, steal_rate_at=lambda t: 0.05)
    g = box.run(wait_budget=0.0)
    assert g["steal_rate_last"] == 0.05
    assert g["proceeded_loaded"] is False


# ---------------------------------------------------------------- steady


def test_substitution_applied_and_audited():
    skipped = [("q_a", 4.0), ("q_b", 1.2)]
    prev = {"q_a": 1.5, "q_b": 0.5}
    subs = steady_substitutions(skipped, prev)
    assert set(subs) == {"q_a", "q_b"}
    assert subs["q_a"] == {
        "suite": 4.0,
        "substituted": 1.5,
        "source": "prev_idle_profile",
    }
    # the steady correction main() derives from the audit map
    correction = sum(r["suite"] - r["substituted"] for r in subs.values())
    assert abs(correction - (2.5 + 0.7)) < 1e-9


def test_substitution_never_inflates_speed():
    # a prior value >= the suite value must NOT be substituted: steady
    # may only remove drift, never add a speedup the box didn't show
    subs = steady_substitutions([("q_a", 1.0)], {"q_a": 1.0})
    assert subs == {}
    subs = steady_substitutions([("q_a", 1.0)], {"q_a": 3.0})
    assert subs == {}


def test_no_skips_no_substitutions():
    assert steady_substitutions([], {"q_a": 1.0}) == {}


# ---------------------------------------------------------- duckdb anchor


def test_duckdb_anchor_counts_failures_and_survives_bad_generators(
    monkeypatch,
):
    """The anchor must never be fatal: per-oracle failures are counted
    (a short denominator can only overstate the gate ratio, never hide
    a regression) and a DYNAMIC_ORACLES generator that raises leaves
    the stale SQL to fail — and be counted — below. Oracles are
    monkeypatched so this runs in milliseconds; the real 220-oracle
    path is exercised by every bench run (BENCH_FULL.json's
    duckdb_anchor record)."""
    import otters_spark.suite as suite

    monkeypatch.setattr(
        suite,
        "ORACLE_SQL",
        {
            "ok_const": "SELECT 1 AS x",
            "ok_scan": "SELECT count(*) AS n FROM region",
            "bad_sql": "SELECT * FROM no_such_table",
            "dyn_q": "SELECT broken syntax !!",  # stale; generator raises
        },
    )
    monkeypatch.setattr(
        suite,
        "DYNAMIC_ORACLES",
        {"dyn_q": lambda sf_dir: (_ for _ in ()).throw(RuntimeError("boom"))},
    )
    rec = run_duckdb_anchor("/root/testdata/sf0.001")
    assert rec["n_queries"] == 4
    assert rec["failed"] == 2  # bad_sql + the stale dyn_q SQL
    assert rec["sec"] > 0.0


def test_duckdb_anchor_regenerates_dynamic_oracles(monkeypatch):
    # a working generator's SQL replaces the committed (sf-bound) one
    import otters_spark.suite as suite

    monkeypatch.setattr(
        suite, "ORACLE_SQL", {"dyn_q": "SELECT * FROM no_such_table"}
    )
    monkeypatch.setattr(
        suite, "DYNAMIC_ORACLES", {"dyn_q": lambda sf_dir: "SELECT 2 AS x"}
    )
    rec = run_duckdb_anchor("/root/testdata/sf0.001")
    assert rec == {"sec": rec["sec"], "n_queries": 1, "failed": 0}


# ------------------------------------------------------------ line budget


def _full(times, retimed, subs):
    # a realistic headline dict (field set mirrors main()'s `full`)
    return {
        "metric": "suite_total_wall_seconds",
        "value": round(sum(times.values()), 3),
        "value_steady": round(sum(times.values()) * 0.9, 3),
        "value_steady_nosub": round(sum(times.values()) * 0.92, 3),
        "unit": "sec",
        "sf": 0.1,
        "n_queries": len(times),
        "single_rep_count": 0,
        "vector_query_qps": 1.88,
        "vector_batch_qps": 26.73,
        "vector_serving_qps": 2.32,
        "vector_serving_batched_qps": 16.77,
        "vector_serving_breakdown": {
            "score_sec_per_query": 0.188,
            "trigger_overhead_sec_per_query": 0.304,
        },
        "load_guard": {
            "threshold": 0.5, "waited_sec": 0.0, "proceeded_loaded": False,
        },
        "load_avg": {"start": [0.0, 0.9, 2.1], "end": [1.2, 1.7, 2.0]},
        "log_suppression": "org.apache.spark.scheduler.DAGScheduler: x",
        "box_canary_sec": 0.492,
        "box_canary_pre": 1.025,
        "box_canary_post": 0.492,
        "box_canary_query": "vs_dot_topk",
        "duckdb_anchor": {"sec": 151.204, "n_queries": 228, "failed": 0},
        "duckdb_anchor_skipped": None,
        "duckdb_anchor_sec": 151.204,
        "duckdb_anchor_failed": 0,
        "anchor_ratio_steady": 1.671,
        "anchor_ratio_steady_nosub": 1.708,
        "cpu_steal_delta_sec": 523.9,
        "retimed": retimed,
        "retime_skipped": 0,
        "steady_substituted": subs,
        "retime_reference_load": 0.0,
        "single_rep": [],
        "queries": times,
    }


def _drifting_box(n_queries=220, n_retimed=66):
    # the advisor scenario: 66 flagged entries (~35 bytes each on the
    # line) on a 220-query suite
    times = {f"query_name_{i:03d}": round(0.3 + i * 0.01, 3)
             for i in range(n_queries)}
    retimed = {
        f"query_name_{i:03d}": {
            "suite": round(2.0 + i * 0.01, 3),
            "solo_min2": round(0.4 + i * 0.005, 3),
            "prev_idle": round(0.35 + i * 0.004, 3),
        }
        for i in range(n_retimed)
    }
    flagged_order = sorted(
        retimed, key=lambda k: -(retimed[k]["suite"] / retimed[k]["prev_idle"])
    )
    return times, retimed, flagged_order


def test_line_fits_budget_with_drifting_box():
    times, retimed, order = _drifting_box()
    subs = {"query_name_000": {"suite": 2.0, "substituted": 0.35,
                               "source": "prev_idle_profile"}}
    full = _full(times, retimed, subs)
    budget = 1800
    head = budget_line(full, times, order, retimed, subs, budget)
    line = json.dumps(head, separators=(",", ":"))
    assert len(line) <= budget
    # never a partial dict that reads as complete: counters reconcile
    assert head["retimed_omitted"] == len(retimed) - len(head["retimed"])
    assert head["queries_omitted"] == len(times) - len(head["queries"])
    assert head["retimed_omitted"] > 0  # 66 entries cannot all fit
    assert head["queries_omitted"] > 0
    # the retimed map alone never starves the queries map (the advisor
    # failure mode: zero queries on the line) — the fixed reserve
    # guarantees room for at least ~20 query entries
    assert len(head["queries"]) >= 15
    # and the fixed headline fields never starve the retimed map (the
    # round-9 regression: a relative budget//2 cap fell below the base
    # head size once the canary/steal fields landed, putting ZERO
    # retimed entries on the line of the exact runs that need them)
    assert len(head["retimed"]) >= 3
    # compact forms: retimed values are scalars, substitution is a count
    assert all(not isinstance(v, dict) for v in head["retimed"].values())
    assert head["steady_substituted"] == 1
    # headline fields always survive
    for k in ("value", "value_steady", "value_steady_nosub",
              "box_canary_sec", "retime_skipped", "duckdb_anchor_sec",
              "anchor_ratio_steady", "anchor_ratio_steady_nosub",
              "duckdb_anchor_failed"):
        assert k in head
    # full per-query detail is pointed at, not inlined
    assert head["queries_full"] == "BENCH_FULL.json"
    assert "single_rep" not in head
    # anchor scalars on the line, the {sec,n,failed} dict only in FULL
    assert "duckdb_anchor" not in head


def test_retimed_fill_order_is_largest_ratio_first():
    times, retimed, order = _drifting_box(n_retimed=66)
    head = budget_line(_full(times, retimed, {}), times, order, retimed,
                       {}, 1800)
    included = list(head["retimed"])
    # the entries on the line must be a prefix of the flagged (ratio-
    # sorted) order — the ones a grader reads first
    assert included == order[: len(included)]


def test_queries_fill_is_slowest_first():
    times, retimed, order = _drifting_box(n_retimed=0)
    head = budget_line(_full(times, {}, {}), times, [], {}, {}, 1800)
    included = list(head["queries"])
    by_cost = sorted(times, key=lambda k: (-times[k], k))
    assert included == by_cost[: len(included)]


def test_everything_fits_when_small():
    times = {"q_a": 1.0, "q_b": 2.0}
    retimed = {"q_a": {"suite": 3.0, "solo_min2": 1.0, "prev_idle": 0.9}}
    head = budget_line(_full(times, retimed, {}), times, ["q_a"], retimed,
                       {}, 1800)
    assert head["queries_omitted"] == 0
    assert head["retimed_omitted"] == 0
    assert head["queries"] == times
    assert head["retimed"] == {"q_a": 1.0}


def test_queries_window_is_deterministic_across_runs():
    """Round-12 (VERDICT item 2): the one-line JSON's queries map must
    emit the SAME key set every run — the former slowest-20-of-this-run
    selection rotated as queries sped up, and PERF_r11 reported 8 false
    dropped_from_bench rows. Two synthetic runs with REVERSED per-query
    costs must emit identical key sets: exactly the pinned names, with
    each run's own values, failed (None) pinned queries included — and
    a pinned name missing from a run's times entirely emits as null
    instead of silently vanishing from the line."""
    extras = {f"zz_extra_{i:03d}": 9.9 for i in range(200)}  # all slower
    run1 = {n: 0.5 + i * 0.01 for i, n in enumerate(PINNED_LINE_QUERIES)}
    run2 = {n: 5.0 - i * 0.01 for i, n in enumerate(PINNED_LINE_QUERIES)}
    run2[PINNED_LINE_QUERIES[0]] = None  # a failed pinned query
    h1 = budget_line(_full(run1 | extras, {}, {}), run1 | extras,
                     [], {}, {}, 1800)
    run2_nonnull = {k: v for k, v in (run2 | extras).items() if v is not None}
    h2 = budget_line(_full(run2_nonnull, {}, {}), run2 | extras,
                     [], {}, {}, 1800)
    assert list(h1["queries"]) == list(h2["queries"])
    assert set(h1["queries"]) == set(PINNED_LINE_QUERIES)
    # current values ride along; a failed pinned query stays visible
    assert h1["queries"][PINNED_LINE_QUERIES[1]] == run1[PINNED_LINE_QUERIES[1]]
    assert h2["queries"][PINNED_LINE_QUERIES[0]] is None
    # a third run that never recorded one pinned name at all
    run3 = {n: 1.0 for n in PINNED_LINE_QUERIES[:-1]}
    h3 = budget_line(_full(run3 | extras, {}, {}), run3 | extras,
                     [], {}, {}, 1800)
    assert list(h3["queries"]) == list(h1["queries"])
    assert h3["queries"][PINNED_LINE_QUERIES[-1]] is None
    assert h3["queries_omitted"] == 200
    # no extra (non-pinned) names sneak in to rotate next run
    assert not any(k.startswith("zz_extra_") for k in h1["queries"])
    assert h1["queries_omitted"] == 200
    # the round-11 driver line's keys are a subset (additions-only rule)
    r11_line_keys = {
        "pipeline_dedup_end_to_end", "dedup_incremental_components",
        "pipeline_leakage_safe_split", "sketch_ams_joinsize",
        "text_bpe_train", "rel_table_profile", "pipeline_semdedup",
        "dedup_span_removal", "rel_winsorized_stats", "eval_banding_recall",
        "events_anomaly_mad", "multimodal_phash_neardup",
        "dedup_prefix_filter_pairs", "eval_ann_recall", "graph_kcore_members",
        "link_entity_clusters", "link_golden_records",
        "dedup_tfidf_cosine_pairs", "dedup_simhash64_banded",
        "rel_market_basket",
    }
    assert r11_line_keys <= set(h1["queries"])


def test_queries_window_truncation_is_a_pinned_order_prefix():
    """Under an impossibly tight byte budget the pinned fill truncates —
    but always in the FIXED pinned order (a prefix), and the omission
    counter reconciles. (In production the reserve is sized to the full
    pinned map, so this path never fires at the real 1800-byte budget.)"""
    run1 = {n: 0.5 + i * 0.01 for i, n in enumerate(PINNED_LINE_QUERIES)}
    h1 = budget_line(_full(run1, {}, {}), run1, [], {}, {}, 1400)
    assert 0 < len(h1["queries"]) < len(PINNED_LINE_QUERIES)
    assert list(h1["queries"]) == list(PINNED_LINE_QUERIES)[: len(h1["queries"])]
    assert h1["queries_omitted"] == len(run1) - len(h1["queries"])


def test_queries_window_survives_drifting_retimed_map():
    """The retimed fill must never push a pinned query off the line:
    with 66 flagged entries competing for bytes, the queries map still
    carries the FULL pinned set (the reserve is sized to it)."""
    times, retimed, order = _drifting_box()
    pinned_times = {n: 1.0 + i * 0.01 for i, n in enumerate(PINNED_LINE_QUERIES)}
    all_times = times | pinned_times
    head = budget_line(_full(all_times, retimed, {}), all_times,
                       order, retimed, {}, 1800)
    assert set(head["queries"]) == set(PINNED_LINE_QUERIES)
    assert len(json.dumps(head, separators=(",", ":"))) <= 1800
    # the retimed map still gets SOME entries (graders need the worst)
    assert len(head["retimed"]) >= 1


def test_none_times_sort_safely():
    # a failed query records None; the cost sort must not raise
    times = {"q_a": None, "q_b": 2.0}
    head = budget_line(_full({"q_b": 2.0}, {}, {}) | {"queries": times},
                       times, [], {}, {}, 1800)
    assert head["queries"] == {"q_b": 2.0, "q_a": None}
