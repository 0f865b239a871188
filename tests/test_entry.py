"""Driver-contract smoke: entry(), queries()/oracle_sql() gate shape."""

import os

import pytest

import __spark_entry__ as contract
from wireduck_spark.registry import (
    GATE,
    PENDING_GATE,
    QUERIES,
    ROTATED_OUT,
    load_all_queries,
)
from wireduck_spark.sources.pcap_queries import FIXTURE, FIXTURE_QUERIES

load_all_queries()


def test_entry_returns_rows(spark):
    df = contract.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "count_order" in df.columns


def test_registry_shape():
    qs = contract.queries()
    oracles = contract.oracle_sql()
    # the driver evaluates at most the first 50 sorted entries: the gate
    # must fit the budget so NOTHING exposed to the driver goes dark.
    assert len(qs) <= 50
    assert set(oracles) <= set(qs)
    # the rows-only set is the documented one: pcap (no DuckDB oracle
    # exists — goldens pinned in pytest over deterministic captures),
    # the PQ/PCA recall-quality configs (numpy-replay goldens), and the
    # scaled SemDeDup config (hash/LSH routing is not reasonably
    # SQL-expressible; invariants pinned in pytest instead). Round 9
    # promoted the ENTIRE rows-only queue into the gate, so this list is
    # the full documented rows-only surface.
    rows_only = set(qs) - set(oracles)
    assert rows_only <= {
        "pcap_flagship_portpair", "pcap_throughput_split",
        "pcap_tcp_handshake_rtt", "pcap_tcp_retransmissions",
        "pcap_protocol_hierarchy", "pcap_dns_latency",
        "pcap_beacon_detection", "sim_ann_pq_rerank",
        "pcap_port_scan_detect", "pcap_ja3_fingerprint",
        "pcap_ntp_clock_skew", "pcap_dhcp_lease_inventory",
        "pcap_arp_spoof_detect", "pcap_payload_entropy",
        "pcap_follow_tcp_stream", "pcap_dns_tunneling_detect",
        "pcap_vxlan_decap", "pcap_traceroute_path",
        "pcap_filter_and_save", "pcap_capture_summary",
        "pcap_http_transactions", "pcap_ipv6_traffic",
        "pcap_lake_federation", "pcap_capture_compare",
        "pcap_flowlet_split", "pcap_syn_options_audit",
        "pcap_quic_handshakes", "pcap_quic_federation",
        "pcap_quic_vn_downgrade", "pcap_service_inventory",
        "embed_pca_top_component", "embed_pca_two_components",
        "dedup_semantic_kmeans_scaled",
        # round-10: the capture -> flow-lake parquet export (pcap input,
        # so no DuckDB twin; golden flow counters pinned in pytest)
        "pcap_flow_export_sink",
        # round-11: the flow-lake import side (same pcap provenance,
        # goldens in test_pcap_analysis) and two r1/r2 pcap queries
        # cycled back into the gate for evidence freshness
        "pcap_flow_import_talkers",
        "pcap_dns_http_dissect", "pcap_flow_stats",
        # round-11 second sitting: the multi-capture flow lake (pcap
        # provenance; cross-capture recurrence goldens in
        # test_pcap_analysis)
        "pcap_flow_lake_recurring_dst",
        # round-12: r1/r2 pcap query cycled back into the gate for
        # evidence freshness (goldens in test_pcap_analysis)
        "pcap_tls_sni",
    }


def test_gate_partition():
    """Every registered query is deliberately placed: it consumes a driver
    gate slot (GATE), was rotated out after a green driver row (ROTATED_OUT),
    or is queued for the next rotation (PENDING_GATE). A new query that lands
    in none of the three fails here, so it can't silently displace gate
    coverage the way rounds 1-2 did."""
    gate, rotated, pending = set(GATE), set(ROTATED_OUT), set(PENDING_GATE)
    for a, b in ((gate, rotated), (gate, pending), (rotated, pending)):
        assert not a & b, f"names in two buckets: {sorted(a & b)}"
    missing = set(QUERIES) - gate - rotated - pending
    assert not missing, f"unplaced queries: {sorted(missing)}"
    stale = (gate | rotated | pending) - set(QUERIES)
    if not os.path.exists(FIXTURE):
        # the queries that read fix.pcap register only where it exists;
        # they stay placed so the gate is the same on every box
        assert set(FIXTURE_QUERIES) <= gate | rotated | pending
        stale -= set(FIXTURE_QUERIES)
    assert not stale, f"gate lists unknown queries: {sorted(stale)}"


@pytest.mark.slow  # full-registry sweep (r15 driver-window split)
def test_no_complex_top_level_columns_in_oracle_outputs(spark, sf_dir):
    """Contract rule (round-6 lesson, `embed_mean_pool` driver-red row;
    re-learned round 9 on the rows-only surface): the driver's pandas
    canonicalizer sorts result rows to hash them — for EVERY gate row,
    rows-only included — and list/dict cells are unhashable, so a query
    returning a top-level ARRAY/MAP/STRUCT column passes every local
    check and then dies in the driver with zero evidence recorded
    (r9: pcap_ja3_fingerprint, pcap_arp_spoof_detect,
    embed_pca_two_components all landed spark_rows: None). Ban the class
    for EVERY registered query — the r9 exemption for `oracle is None`
    was exactly the hole the rotation promoted into the gate. Emit
    array_join(...) strings or md5(array_join(...)) fingerprints instead
    (the embed_quantize_int8 convention)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = []
    for name, spec in QUERIES.items():
        for f in spec.fn(spark, sf_dir).schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not offenders, (
        "top-level complex columns in oracle-checkable outputs "
        f"(driver canonicalizer cannot hash them): {offenders}"
    )


def test_driver_sim_canonicalizer_reproduces_the_r9_crash(spark):
    """VERDICT r9 #3: the pre-submit sim checked rows>0 via .count(), which
    passes on results the real driver cannot canonicalize. The sim now goes
    through toPandas() + all-column sort_values (tools/driver_sim.py). Pin
    both directions: a frame with a top-level ARRAY column must CRASH the
    sim path exactly like the driver did (TypeError from pandas), and a
    plain-typed frame must count cleanly."""
    import pytest

    from tools.driver_sim import driver_canon_rows

    bad = spark.createDataFrame(
        [(1, ["a", "b"]), (1, ["c"])], "k INT, arr ARRAY<STRING>")
    with pytest.raises(TypeError):
        driver_canon_rows(bad)
    good = spark.createDataFrame([(1, "a,b"), (1, "c")], "k INT, s STRING")
    assert driver_canon_rows(good) == 2


@pytest.mark.slow  # full-registry sweep (r15 driver-window split)
def test_each_query_runs_at_sf0001(spark, sf_dir):
    """Every REGISTERED query (not just the gate) executes: plans resolve
    and run at tiny scale; value checks are test_all_queries_green's job."""
    for name, spec in QUERIES.items():
        df = spec.fn(spark, sf_dir)
        df.limit(5).collect()


def test_bench_stdout_line_fits_driver_capture():
    """Round-8 postmortem (VERDICT r8 #1): the driver tails ~2,000 chars
    of bench.py stdout; the r8 diagnostics grew the JSON line to ~3,083
    chars and the round's per-query record was LOST (parsed: null).
    bench.py now emits only the core fields on stdout — this pins the
    worst-case line (max-width timings for every bench-tagged query)
    under the capture window, so growing the bench set past the budget
    fails here instead of silently destroying a round's evidence."""
    import json

    worst = {
        "metric": "headline_query_wall_seconds",
        "value": 99999.999,
        "unit": "sec",
        "queries": {n: 9999.999 for n, s in sorted(QUERIES.items())
                    if s.bench},
        "sf": 0.1,
        "methodology": {"runs": 2, "agg": "min", "warmup": True,
                        "cache_cleared": True},
    }
    line = json.dumps(worst)
    assert len(line) <= 1900, (
        f"bench stdout line would be {len(line)} chars; trim the bench "
        "set or shorten names — the driver capture window is ~2000")


def test_bench_overflow_fallback_keeps_queries_for_the_guard():
    """ADVICE r9: the >1900-char totals-only fallback used to pop
    "queries" from the SAME dict later handed to check_regressions, which
    then crashed with KeyError whenever the fallback fired alongside
    --baseline. stdout_line must (a) emit a parseable totals-only line,
    (b) leave the caller's dict intact, and (c) the guard must still run
    on the full per-query map afterwards."""
    import importlib.util
    import json
    import os

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    big = {
        "metric": "headline_query_wall_seconds", "value": 1.0,
        "unit": "sec",
        "queries": {f"q{i:04d}_{'x' * 40}": 1.234 for i in range(60)},
        "sf": 0.1,
        "methodology": {"runs": 2, "agg": "min", "warmup": True,
                        "cache_cleared": True},
    }
    assert len(json.dumps(big)) > 1900  # the fallback must fire
    line = bench.stdout_line(big)
    parsed = json.loads(line)
    assert len(line) <= 1900 and "queries" not in parsed
    assert "queries" in big and len(big["queries"]) == 60  # not mutated
    small = {**big, "queries": {"q1": 0.5}}
    assert json.loads(bench.stdout_line(small))["queries"] == {"q1": 0.5}


def test_digest_snapshot_is_current_round():
    """The changed-implementation rule only works if the snapshot is
    regenerated at each round boundary: its recorded round must equal the
    newest CORRECTNESS_r*.json round (the previous round), which both
    forces the start-of-round refresh and forbids re-writing it mid-round
    to dodge test_changed_impl_queries_are_gated."""
    from tools.query_digests import load_snapshot, newest_correctness_round

    snap = load_snapshot()
    assert snap["round"] == newest_correctness_round(), (
        "tools/query_digests_prev.json is stale: regenerate it at the "
        "START of the round, before changing any query "
        "(python tools/query_digests.py --write)")


def test_changed_impl_queries_are_gated():
    """VERDICT r10 #2 mechanized: any query whose builder source or
    oracle text differs from the previous round's snapshot — or that is
    newly registered — MUST hold a GATE slot this round, so the driver
    re-verifies every changed implementation. (Run against the r9->r10
    diff, this fails on exactly the four queries round 10 forgot:
    stats_acf_daily_lags, stats_anova_oneway, stats_levene_brown_forsythe,
    dedup_minhash_lsh — plus dedup_cluster_components.)"""
    from tools.query_digests import (
        changed_or_new, compute_digests, load_snapshot,
    )

    changed = changed_or_new(compute_digests(), load_snapshot())
    ungated = sorted(set(changed) - set(GATE))
    assert not ungated, (
        f"changed/new queries missing from GATE: {ungated} — every "
        "changed implementation needs a driver re-check this round")


def test_bench_step_changes_are_real_changes():
    """The bench guard's STEP_CHANGED exemption (r11) is only
    legitimate for a query whose implementation actually changed since
    the previous round's digest snapshot — otherwise the exemption
    could silently absorb a REAL performance regression. Each exempted
    name must (a) be a registered bench-relevant query and (b) appear
    in the changed/new set, and the dict must stay small (entries are
    dropped the round after a baseline measured on the new semantics
    exists)."""
    import bench
    from tools.query_digests import (
        changed_or_new, compute_digests, load_snapshot,
    )

    if not bench.STEP_CHANGED:
        return
    changed = set(changed_or_new(compute_digests(), load_snapshot()))
    for name in bench.STEP_CHANGED:
        assert name in QUERIES, f"STEP_CHANGED names unknown query {name}"
        assert name in changed, (
            f"STEP_CHANGED exempts {name}, but its implementation did "
            "NOT change this round — drop the entry; the guard must see "
            "real regressions")
    assert len(bench.STEP_CHANGED) <= 3, (
        "STEP_CHANGED growing — it is a per-round escape hatch for "
        "semantic rewrites, not a standing exemption list")
