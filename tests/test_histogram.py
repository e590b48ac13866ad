"""Pair Δt histograms: reference-exact binning and the A9 offline merge."""

from __future__ import annotations

import math

from detector_network_processor_spark.constants import C_M_PER_NS
from detector_network_processor_spark.functions.geodesy import straight_distance_scalar
from detector_network_processor_spark.operators.coincidence import cluster_coincidences
from detector_network_processor_spark.operators.histogram import (
    merge_histograms,
    pair_dt_histogram,
    pair_totals,
)

from muon_fixtures import STATIONS, make_events, station_rows


def _hist(spark, seed):
    events = make_events(n_base=600, seed=seed)
    stations = {s[0]: s for s in STATIONS}
    enriched = [
        {**e, "lat": stations[e["hash"]][1], "lon": stations[e["hash"]][2], "h": stations[e["hash"]][3]}
        for e in events
    ]
    l1 = cluster_coincidences(spark.createDataFrame(enriched), criterion="physics")
    st_df = spark.createDataFrame(station_rows())
    return pair_dt_histogram(l1, st_df)


def test_bin_width_matches_reference_formula(spark):
    rows = _hist(spark, seed=31).collect()
    assert rows, "fixture produced no coincidences"
    stations = {s[0]: s for s in STATIONS}
    for r in rows:
        a, b = stations[r.hash_lo], stations[r.hash_hi]
        dist = straight_distance_scalar(a[1], a[2], a[3], b[1], b[2], b[3])
        tof = dist / C_M_PER_NS
        expected_w = int(min(max(2.0 * tof / 2000.0, 1.0), 100.0))
        assert r.bin_width == expected_w, (r.hash_lo, r.hash_hi)
        assert 0 <= r.bin < 2000
        assert abs(r.distance - round(dist, 3)) < 1e-9


def test_pair_distance_bit_identical_to_scalar_reference(spark):
    """r12 ECEF hoist pin: pair_dt_histogram computes the WGS84 transform
    per STATION (broadcast dimension) and only the chord sqrt per pair;
    the reported distance must stay BIT-identical (==, not approx) to the
    golden scalar straight_distance path the kernel/tests use — the exact
    equality the pre-hoist per-pair-trig formulation had."""
    rows = _hist(spark, seed=33).collect()
    assert rows, "fixture produced no coincidences"
    stations = {s[0]: s for s in STATIONS}
    for r in rows:
        a, b = stations[r.hash_lo], stations[r.hash_hi]
        dist = straight_distance_scalar(a[1], a[2], a[3], b[1], b[2], b[3])
        assert r.distance == round(dist, 3), (r.hash_lo, r.hash_hi, r.distance)


def test_merge_histograms_sums_counts(spark):
    h1, h2 = _hist(spark, seed=31), _hist(spark, seed=32)
    merged = merge_histograms(h1, h2)
    t1 = {(r.hash_lo, r.hash_hi): r.total for r in pair_totals(h1).collect()}
    t2 = {(r.hash_lo, r.hash_hi): r.total for r in pair_totals(h2).collect()}
    tm = {(r.hash_lo, r.hash_hi): r.total for r in pair_totals(merged).collect()}
    for k in set(t1) | set(t2):
        assert tm[k] == t1.get(k, 0) + t2.get(k, 0)


def test_pair_uptime_segment_truncation(spark):
    """A7 meta: uptime counts whole minutes PER online==2 segment
    (stationcoincidence.cpp:92-103 duration_cast at each close), and an
    open interval runs to end-of-data."""
    from detector_network_processor_spark.operators.histogram import pair_uptime

    M = 60 * 10**9  # ns per minute
    tr = spark.createDataFrame(
        [
            # station 1: reliable [0, 10.5 min), then unreliable, then
            # reliable again [20, 25 min)
            (1, 0, "reliable", "miscellaneous"),
            (1, int(10.5 * M), "unreliable", "time_accuracy"),
            (1, 20 * M, "reliable", "miscellaneous"),
            (1, 25 * M, "offline", "missed_log_interval"),
            # station 2: reliable the whole span [0, open)
            (2, 0, "reliable", "miscellaneous"),
            # station 3: never reliable
            (3, 0, "unreliable", "location_precision"),
        ],
        "hash long, ts long, status string, reason string",
    )
    up = {(r.hash_lo, r.hash_hi): r.uptime
          for r in pair_uptime(tr, end_of_data_ts=30 * M).collect()}
    # pair (1,2): segments 10.5 min (trunc 10) + 5 min -> 15, NOT floor(15.5)
    assert up[(1, 2)] == 15
    # station 2 alone vs 3: no overlap rows at all
    assert (1, 3) not in up and (2, 3) not in up


def test_with_pair_meta_and_meta_merge(spark):
    from detector_network_processor_spark.operators.histogram import (
        merge_histograms_meta,
        pair_totals,
        with_pair_meta,
    )

    h1, h2 = _hist(spark, seed=41), _hist(spark, seed=42)
    up = spark.createDataFrame(
        [(r.hash_lo, r.hash_hi, 7) for r in pair_totals(h1).collect()],
        "hash_lo long, hash_hi long, uptime long",
    )
    m1, m2 = with_pair_meta(h1, up, 60), with_pair_meta(h2, up, 60)
    merged = merge_histograms_meta(m1, m2)
    rows = merged.collect()
    assert rows
    p1 = {(r.hash_lo, r.hash_hi) for r in h1.select("hash_lo", "hash_hi").distinct().collect()}
    p2 = {(r.hash_lo, r.hash_hi) for r in h2.select("hash_lo", "hash_hi").distinct().collect()}
    for r in rows:
        k = (r.hash_lo, r.hash_hi)
        n_present = (k in p1) + (k in p2)
        assert r.sample_time == 60 * n_present
        base = 7 if k in {(x.hash_lo, x.hash_hi) for x in up.collect()} else 0
        assert r.uptime == base * n_present


def test_pair_uptime_property_vs_bruteforce(spark):
    """Property: pair_uptime == a brute-force per-segment simulation on
    randomized multi-station transition streams (per-segment minute
    truncation, open intervals to end-of-data, only 'reliable' counts).
    One Spark invocation over many generated cases (hypothesis would spin
    up a Spark job per example; the generator loop is the same coverage)."""
    import numpy as np

    from detector_network_processor_spark.operators.histogram import pair_uptime

    M = 60 * 10**9
    rng = np.random.default_rng(101)
    statuses = ["reliable", "unreliable", "offline", "online"]
    rows, expected = [], {}
    case_stations = {}
    for case in range(40):
        n_st = int(rng.integers(2, 5))
        end_ts = 200 * M
        sim = {}
        for st_i in range(n_st):
            hash_ = case * 100 + st_i
            t = 0
            seq = []
            while t < 180 * M:
                s = statuses[int(rng.integers(0, len(statuses)))]
                seq.append((t, s))
                t += int(rng.integers(1, 40) * M / 2)  # half-minute grid
            # dedupe consecutive same-status (state machine only emits changes)
            ded = [seq[0]]
            for ts, s in seq[1:]:
                if s != ded[-1][1]:
                    ded.append((ts, s))
            sim[hash_] = ded
            rows += [(hash_, ts, s, "miscellaneous") for ts, s in ded]
        case_stations[case] = sorted(sim)
        # brute force: reliable intervals, pairwise overlap, per-segment floor
        iv = {}
        for h, seq in sim.items():
            out = []
            for i, (ts, s) in enumerate(seq):
                if s == "reliable":
                    t1 = seq[i + 1][0] if i + 1 < len(seq) else end_ts
                    out.append((ts, t1))
            iv[h] = out
        hs = sorted(sim)
        for i in range(len(hs)):
            for j in range(i + 1, len(hs)):
                tot = 0
                for a0, a1 in iv[hs[i]]:
                    for b0, b1 in iv[hs[j]]:
                        ov = min(a1, b1) - max(a0, b0)
                        if ov > 0:
                            tot += ov // M
                if any(min(a1, b1) > max(a0, b0) for a0, a1 in iv[hs[i]] for b0, b1 in iv[hs[j]]):
                    expected[(hs[i], hs[j])] = tot

    tr = spark.createDataFrame(rows, "hash long, ts long, status string, reason string")
    # NOTE: end_of_data is GLOBAL max ts in the operator; make it uniform by
    # appending one sentinel transition per station at exactly 200 min
    sentinels = [(h, 200 * M, "offline", "miscellaneous") for hs in case_stations.values() for h in hs]
    tr = tr.unionByName(
        spark.createDataFrame(sentinels, "hash long, ts long, status string, reason string")
    )
    got = {(r.hash_lo, r.hash_hi): r.uptime for r in pair_uptime(tr, 200 * M).collect()}
    # compare within-case pairs only (cross-case pairs can overlap too but
    # expected{} only covers same-case; filter got accordingly)
    got_same_case = {k: v for k, v in got.items() if k[0] // 100 == k[1] // 100}
    assert got_same_case == expected


def test_load_histograms_across_schema_vintages(spark, tmp_path):
    """A8 store compatibility: pre-meta saves (no uptime/sample_time) and
    post-meta saves, both written by save_histograms, read back as ONE frame with meta backfilled to 0, and
    merge_histograms_meta sums correctly across the vintages."""
    from detector_network_processor_spark.operators.histogram import (
        load_histograms,
        merge_histograms_meta,
    )
    from detector_network_processor_spark.streaming.sinks import save_histograms

    old = spark.createDataFrame(
        [(1, 2, 10.0, 5, 100, 7)],
        "hash_lo long, hash_hi long, distance double, bin_width int, bin long, n long",
    )
    new = spark.createDataFrame(
        [(1, 2, 10.0, 5, 100, 3, 9, 60)],
        "hash_lo long, hash_hi long, distance double, bin_width int, bin long, n long, "
        "uptime long, sample_time long",
    )
    save_histograms(old, str(tmp_path / "h" / "v_old"))
    save_histograms(new, str(tmp_path / "h" / "v_new"))

    a = load_histograms(spark, str(tmp_path / "h" / "v_old"))
    b = load_histograms(spark, str(tmp_path / "h" / "v_new"))
    assert {f.name for f in a.schema.fields} == {f.name for f in b.schema.fields}
    merged = merge_histograms_meta(a, b).collect()
    assert len(merged) == 1
    r = merged[0]
    assert (r.n, r.uptime, r.sample_time) == (10, 9, 60)  # old save contributes 0 meta


def test_station_pagerank_differential(spark):
    """station_pagerank == an independent pure-Python fixed-point PageRank
    on the same adjacency, bit-for-bit (integer arithmetic everywhere)."""
    from detector_network_processor_spark.plans import all_queries
    from detector_network_processor_spark.plans.muon import _pair_hist_df
    from detector_network_processor_spark.operators.histogram import pair_totals

    sf = "/root/testdata/sf0.001"
    pt = {(r.hash_lo, r.hash_hi): r.total for r in
          pair_totals(_pair_hist_df(spark, sf)).collect()}
    edges = {}
    for (lo, hi), w in pt.items():
        edges.setdefault(lo, {})[hi] = w
        edges.setdefault(hi, {})[lo] = w
    wsum = {u: sum(nb.values()) for u, nb in edges.items()}
    n = len(edges)
    S, base = 10**12, 150_000_000_000 // n
    r = {u: S // n for u in edges}
    for _ in range(3):
        nxt = {}
        for v in edges:
            contrib = sum((r[u] * w) // wsum[u] for u, w in edges[v].items())
            nxt[v] = base + (contrib * 17) // 20
        r = nxt
    got = {row.hash: row.rank12 for row in
           all_queries()["station_pagerank"].fn(spark, sf).collect()}
    assert got == r
