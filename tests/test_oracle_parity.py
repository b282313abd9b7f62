"""Full-catalog differential gate at sf0.001 — the local replica of the
driver's correctness check (SURVEY.md §5: DuckDB-as-oracle pattern)."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import pytest  # noqa: E402

from check_parity import run_parity  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.mark.parity
def test_catalog_matches_duckdb_oracle(spark):
    """The DuckDB-oracle differential gate. DEFAULT SCOPE (r14): the
    50-entry driver gate window — the entries the driver will actually
    hash this round — which keeps the suite inside the driver's verify
    budget (the r13 full-catalog run pushed the suite past it and the
    driver's pytest was truncated at ~61%, verifying nothing after
    that point; VERIFY_r13.json tests_ok=false). The FULL 127-entry
    catalog still gates every round in the committed end-of-round
    validation (`python3 tools/check_parity.py`, recorded in
    OPTIMIZATION_r14.md / round notes) and on demand:

        SPARK_GRAFT_PARITY_FULL=1 python -m pytest -m parity -q

    Per-commit fast path when iterating on specific entries:

        SPARK_GRAFT_PARITY_ONLY=text_tfidf_topk,q1_pricing_summary \
            python -m pytest -m parity -q

    (equivalently: python tools/check_parity.py <sf_dir> name ...)"""
    from dazzleduck_sql_duckdb_spark.plans import queries as Q

    only = {
        n for n in os.environ.get(
            "SPARK_GRAFT_PARITY_ONLY", ""
        ).split(",") if n
    }
    if not only and not os.environ.get("SPARK_GRAFT_PARITY_FULL"):
        only = set(Q._GATE_WINDOW)
    n_pass, n_fail, failures = run_parity(
        spark, SF_DIR, only=only or None, verbose=False
    )
    assert n_fail == 0, f"parity failures: {failures}"
    assert n_pass >= (len(only) // 2 if only else 35)


def test_every_query_has_oracle_or_documented_skip(spark):
    import __spark_entry__ as E
    from dazzleduck_sql_duckdb_spark.plans import queries as Q

    qs = E.queries()
    osql = E.oracle_sql()
    missing = set(qs) - set(osql) - Q.ORACLE_SKIP
    assert not missing, f"queries without oracle: {missing}"


def test_entry_smoke(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns


def test_prepare_pins_utc_session_timezone(spark):
    """The driver's session is vanilla and every NTZ->TIMESTAMP cast is
    session-timezone-dependent; _prepare must pin UTC or a non-UTC
    driver JVM shifts every event/date epoch vs the DuckDB oracle."""
    import __spark_entry__ as E

    E.queries()["lineitem_count"](spark, SF_DIR)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_gate_window_covers_every_family():
    """Round-15 window contract (the correctness gate hashes the FIRST
    50 catalog entries): every entry round 15 touches — all eight remote entries,
    whose builders moved onto the JVM shim or whose shim/server
    harness changed — the ENTIRE r12-vintage staleness cohort (32
    entries, oldest in GATE_AGE.md post-r14), and r13-vintage fill
    oldest-first. 8 + 32 + 10 = 50 exactly."""
    from dazzleduck_sql_duckdb_spark.plans import queries as Q

    window = Q._GATE_WINDOW
    assert len(window) == 50
    assert len(set(window)) == 50
    assert list(Q.CATALOG)[:50] == window
    changed_or_new = {
        # dd_read_arrow* builders now on the JVM shim
        "remote_agg_pushdown", "remote_login_scan",
        "remote_scan_failover", "remote_scan_filter_pushdown",
        "remote_scan_split_agg",
        # the shim itself: 5xx retry, agg_* options, shared loader
        "remote_scan_dsv2", "remote_scan_dsv2_split_dec",
        # local_server.py fault injections (harness)
        "remote_splits_plan",
    }
    remote = {n for n in Q.CATALOG if n.startswith("remote_")}
    assert remote <= changed_or_new, remote - changed_or_new
    rotation = {
        # the entire r12-vintage cohort (GATE_AGE.md post-r14)
        "embed_ann_ivf_fullprobe", "embed_ann_ivfpq_fullprobe",
        "embed_ann_ivfpq_recall", "embed_ann_recall",
        "embed_semantic_dedup_exact", "embed_semantic_dedup_recall",
        "empty_set_laws", "events_count_distinct",
        "events_grouping_sets", "events_json_extract",
        "events_sessionize", "events_view_click_attribution",
        "layout_zorder", "lineitem_date_filter_count",
        "lineitem_full_scan", "lineitem_point_filter",
        "lineitem_sum_orderkey", "nation_presence_full_join",
        "order_by_limit", "orders_cube", "part_brand_stats",
        "q18_large_volume", "q21_suppliers_waiting",
        "q4_order_priority", "q8_market_share",
        "scalar_subquery_filter", "semi_anti_join", "simhash_values",
        "sketch_distinct_bounds", "sketch_quantile_bounds",
        "text_perplexity_static_lm", "window_topk_per_group",
        # r13-vintage fill (GATE_AGE.md order)
        "bloom_no_false_negatives", "cross_source_contamination_chunked",
        "dd_array_contains_all", "dd_array_contains_all_fn",
        "dd_version", "dedup_exact", "docs_length_quantiles",
        "docs_shard_assignment", "docs_stratified_sample",
        "embed_ann_ivf_probed",
    }
    in_window = set(window)
    for group, names in [
        ("changed_or_new", changed_or_new),
        ("rotation", rotation),
    ]:
        missing = names - in_window
        assert not missing, f"{group} entries outside window: {missing}"
    # exhaustive: the two sets ARE the window, no free-floating slots
    assert in_window == changed_or_new | rotation


def test_gate_age_report_current():
    """GATE_AGE.md must be regenerated whenever a CORRECTNESS file
    lands (r7 verdict directive #7): per-entry verdict age is the
    input to window derivation, so a stale report makes the rotation
    policy unauditable."""
    import gate_age

    ages, latest = gate_age.last_green_rounds()
    text = gate_age.render(ages, latest)
    with open(os.path.join(REPO, "GATE_AGE.md")) as f:
        assert f.read() == text, (
            "GATE_AGE.md stale — rerun: python tools/gate_age.py"
        )


def test_gate_window_round_ratchet():
    """The staleness ratchet the r5 verdict demanded: the window must
    be re-derived every round. _GATE_WINDOW_ROUND must equal (max
    round among committed CORRECTNESS_r files) + 1 — the moment the
    driver lands this round's CORRECTNESS file, the suite fails until
    the NEXT round consciously re-derives the window (and, per the
    policy above, puts every entry it changed inside it)."""
    import glob
    import re

    from dazzleduck_sql_duckdb_spark.plans import queries as Q

    rounds = [
        int(re.search(r"CORRECTNESS_r(\d+)", f).group(1))
        for f in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    ]
    assert rounds, "driver correctness files missing"
    assert Q._GATE_WINDOW_ROUND == max(rounds) + 1, (
        f"gate window derived for round {Q._GATE_WINDOW_ROUND} but the"
        f" latest driver verdict is round {max(rounds)} — re-derive"
        " _GATE_WINDOW for the new round (plans/queries.py gate order)"
    )


def test_gate_age_staleness_bound():
    """The inverse of the rotation policy (r8 verdict directive #7):
    once an entry has EVER been driver-green, its last-green round may
    trail the latest driver round by at most 3 — the window rotation
    must keep the tail fresh, and this assert turns silent decay into
    a suite failure. (ORACLE_SKIP has been empty since r13 — every
    catalog entry ships an oracle and hash-gates.)"""
    import gate_age

    ages, latest = gate_age.last_green_rounds()
    assert ages and latest >= 8
    stale = {n: r for n, r in ages.items() if latest - r > 3}
    assert not stale, (
        f"entries last green more than 3 rounds ago (latest r{latest}):"
        f" {stale} — rotate them into _GATE_WINDOW"
    )


def test_vacuous_gate_registry_empty_and_devacuumed():
    """r10 verdict #3: the three 0-row gates were re-parameterized to
    return rows at gate scale, and the catalog-wide contract is that
    NO entry may gate an empty result (check_parity fails vacuous
    empties). GATE_MAY_BE_EMPTY must stay empty unless an entry gains
    a documented empty-by-design gate. (The r11-specific in-window
    assertion on the three names is retired: CORRECTNESS_r11 recorded
    them green at 8/5/5 rows — the de-vacuuming is a driver fact now,
    checked via gate_age, not a window obligation.)"""
    import gate_age

    from dazzleduck_sql_duckdb_spark.plans import queries as Q

    assert Q.GATE_MAY_BE_EMPTY == frozenset()
    _, gated_rows, _ = gate_age.last_green_rounds_and_rows()
    for name in ("ngram_jaccard_sampled", "embed_cosine_neardup",
                 "embed_neardup_lsh"):
        assert gated_rows.get(name, 0) > 0, (
            f"{name} last driver-green gated 0 rows — vacuous again"
        )


def test_decimal_export_guard_fails_decimal_probe(spark, monkeypatch):
    """r11 verdict directive #2: the confirmed split-dec root-cause
    class — a python Decimal crossing the driver's hasher — must be an
    executable guard, not a convention. run_parity against a probe
    entry whose Spark output schema is DecimalType must FAIL with the
    decimal-export marker even though the VALUES match the oracle
    exactly (that is the insidious case: locally repr-equal, driver
    hash-red); the real catalog is covered by the full parity gate
    running the same guard over all 127 entries."""
    import __spark_entry__ as E

    def fake_queries():
        return {
            "stub_decimal": lambda s, sf: s.sql(
                "SELECT CAST(1.5 AS DECIMAL(18,4)) AS x"
            )
        }

    def fake_oracles():
        return {"stub_decimal": "SELECT CAST(1.5 AS DECIMAL(18,4)) AS x"}

    monkeypatch.setattr(E, "queries", fake_queries)
    monkeypatch.setattr(E, "oracle_sql", fake_oracles)
    n_pass, n_fail, failures = run_parity(
        spark, SF_DIR, only={"stub_decimal"}, verbose=False
    )
    assert n_fail == 1 and "decimal export" in failures[0][1]
    assert "x" in failures[0][1]

    # row-level arm: a schema that hides the Decimal from the field
    # list (e.g. via a python-side collect quirk) is still caught by
    # the cell scan — simulate with a MAP value carrying a Decimal
    def fake_queries_nested():
        return {
            "stub_decimal_nested": lambda s, sf: s.sql(
                "SELECT array(CAST(1.5 AS DECIMAL(18,4))) AS xs"
            )
        }

    monkeypatch.setattr(E, "queries", fake_queries_nested)
    monkeypatch.setattr(
        E, "oracle_sql",
        lambda: {"stub_decimal_nested": "SELECT [1.5] AS xs"},
    )
    n_pass, n_fail, failures = run_parity(
        spark, SF_DIR, only={"stub_decimal_nested"}, verbose=False
    )
    assert n_fail == 1 and "decimal export" in failures[0][1]


def test_decimal_cell_scan_recurses_into_containers():
    """r12 advice #2: the nested run_parity case above is caught by
    the SCHEMA arm (array<decimal(...)> renders in simpleString), so
    it never proved the cell scan handles containers. Pin the cell
    scan directly: a Decimal nested inside list/tuple/dict cells —
    including as a dict KEY — must register, and decimal-free nests
    must not."""
    from decimal import Decimal

    from check_parity import _contains_decimal

    assert _contains_decimal(Decimal("1.5"))
    assert _contains_decimal([1, [2, Decimal("1.5")]])
    assert _contains_decimal((None, {"k": Decimal("0")}))
    assert _contains_decimal({Decimal("2"): "v"})
    assert not _contains_decimal([1, (2.5, {"k": "v"}), None])


def test_vacuous_guard_fails_empty_entries(spark, monkeypatch):
    """The guard that makes 0-row gates impossible must itself be
    pinned: run_parity against a stub entry whose Spark result AND
    oracle are both empty must FAIL with the vacuous marker (this is
    exactly the shape that sat green-but-meaningless for 8 rounds),
    while a listed GATE_MAY_BE_EMPTY entry would pass (registry is
    empty by contract, so that arm is exercised via monkeypatch)."""
    import __spark_entry__ as E
    from dazzleduck_sql_duckdb_spark.plans import queries as Q

    def fake_queries():
        return {
            "stub_empty": lambda s, sf: s.sql(
                "SELECT CAST(1 AS BIGINT) AS x WHERE 1 = 0"
            )
        }

    def fake_oracles():
        return {"stub_empty": "SELECT CAST(1 AS BIGINT) AS x WHERE 1=0"}

    monkeypatch.setattr(E, "queries", fake_queries)
    monkeypatch.setattr(E, "oracle_sql", fake_oracles)
    n_pass, n_fail, failures = run_parity(
        spark, SF_DIR, only={"stub_empty"}, verbose=False
    )
    assert n_fail == 1 and "vacuous" in failures[0][1]

    # and the registry escape hatch works (so a future documented
    # empty-by-design gate is possible without weakening the default)
    monkeypatch.setattr(
        Q, "GATE_MAY_BE_EMPTY", frozenset({"stub_empty"})
    )
    n_pass, n_fail, failures = run_parity(
        spark, SF_DIR, only={"stub_empty"}, verbose=False
    )
    assert n_fail == 0 and n_pass == 1
