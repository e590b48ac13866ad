"""Driver-visible muon-domain queries: the flagship L1 coincidence operator
run on a deterministic "muonization" of the events fixture.

The driver's fixtures carry no station geometry, so we derive a synthetic
detector network deterministically from the data (same rows every run, any
scale factor): user_id -> station on a lat/lon grid, event times remapped
onto a span proportional to the row count so session sizes stay bounded and
scale-invariant.

Every query here carries a DuckDB oracle — including the clustering
semantics (transitive merge, conflicting/true_e bookkeeping), which are
replayed in SQL by a recursive CTE whose per-session state is one row
holding the open-group buffer as a LIST of structs (_l1_groups_cte).
Correctness is additionally pinned by the golden-model tests in
tests/test_coincidence.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window

from ..io import load_table, table_row_count, ts_to_us
from ..operators.coincidence import cluster_coincidences, l1_flatten
from ..operators.golden import resolve_criterion
from ..session import eager_ckpt_tracked as _eager_ckpt_tracked
from ..session import release_ckpts as _release_ckpts
from . import register
from .lifecycle_oracle import station_lifecycle_oracle_sql as _lifecycle_oracle_sql

# the physics criterion's session gap (its hard time cutoff)
_PHYSICS_CUTOFF_NS = resolve_criterion("physics")[1]

_NS_PER_EVENT = 400_000  # mean gap ~2x the physics cutoff -> bounded sessions


def muonize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events fixture -> muon hit stream (hash,start,end,...,lat,lon,h)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    # footer-metadata row count (cached, zero Spark jobs) — an eager
    # ev.count() here would run one extra job per muon-family query
    n = table_row_count(sf_dir, "events")
    span = n * _NS_PER_EVENT
    # Shifted-quadratic scatter: multiplicative (affine) maps of consecutive
    # ids produce only three distinct sorted gaps (three-distance theorem) —
    # one giant session. (id+1e6)^2 always wraps the modulus, giving
    # Poisson-like gaps (~60% singleton sessions, p99 size 6, max ~16,
    # scale-invariant) while staying exactly expressible in DuckDB SQL for
    # the oracle (no engine hash functions, no int64 overflow up to sf~1e3).
    mixed = (
        ((F.col("event_id") + 1_000_003) * (F.col("event_id") + 1_000_003)) % span * 31
        + F.col("event_id") * 48271
    ) % span
    base = ev.select(
        F.col("user_id").alias("station"),
        F.col("event_id"),
        mixed.alias("start"),
    )
    # Partner hits at a different station, dt in [0, 250 us) — half inside
    # the 207.9 us physics window (coincidences), half outside.
    partners = base.filter(F.col("event_id") % 7 == 0).select(
        ((F.col("station") + 3) % 15).alias("station"),
        (F.col("event_id") + 10_000_000).alias("event_id"),
        (F.col("start") + (F.col("event_id") * 131) % 250_000).alias("start"),
    )
    hits = base.unionByName(partners)
    # time_acc spans [0, 3000) so the F1 quality gate (<= 1000 ns) has real
    # pass/fail traffic; fix drops ~1% of rows.
    return hits.select(
        F.col("station").cast("long").alias("hash"),
        F.col("start"),
        (F.col("start") + 1000 + F.col("event_id") % 400_000).alias("end"),
        (F.col("event_id") % 3000).cast("int").alias("time_acc"),
        (F.col("event_id") % 65536).cast("int").alias("ublox_counter"),
        F.when(F.col("event_id") % 97 == 0, 0).otherwise(1).cast("int").alias("fix"),
        (47.0 + (F.col("station") % 4) * 0.12).alias("lat"),
        (8.0 + F.floor(F.col("station") / 4) * 0.15).alias("lon"),
        F.lit(450.0).alias("h"),
    )


@register(
    "l1_coincidence",
    oracle=None,  # replaced by the recursive-CTE replay oracle below
    doc="Flagship §2.5 operator: gap-session candidate generation + per-session exact replay kernel (conflicting/true_e/transitive-merge semantics, reference src/analysis/coincidencefilter.cpp:60-143). Output = K1 sink projection, one row per constituent of each n>=2 group. Driver-adjudicated against the full recursive-CTE replay oracle (_l1_groups_cte). session_id is dropped from the projection: the sessionizer's id space is offset-based (gaps after boundary merges) and intentionally not oracle-canonical; session assignment itself is adjudicated by l1_candidate_sessions.",
)
def l1_coincidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits = muonize_events(spark, sf_dir)
    l1 = cluster_coincidences(hits, stations=None, criterion="physics")
    return l1_flatten(l1, min_n=2).drop("session_id")


def _station_events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events fixture -> per-station hit stream in exact int64 microseconds
    (real 30-day cadence — used by the lifecycle/summary operators whose
    timers live at the 90 s .. 48 h scale)."""
    ev = load_table(spark, sf_dir, "events")
    start = ts_to_us(ev)
    return ev.select(
        F.col("user_id").alias("hash"),
        start.alias("start"),
        (start + F.col("event_id") % 400_000).alias("end"),
        (F.col("event_id") % 2000).cast("long").alias("time_acc"),
        (F.col("event_id") % 65536).cast("long").alias("ublox_counter"),
        F.lit(1).cast("long").alias("fix"),
        F.col("event_id"),
    )


# detector_summary oracle CTE chain, shared with the sink-formatter oracles
# (sink_summary_text / sink_summary_influx build their lines on top of the
# exact same `summary` relation).
_SUMMARY_ORACLE_CTES = """
ev AS (
  SELECT user_id AS hash, epoch_us(ts) AS start,
         epoch_us(ts) + event_id % 400000 AS e_end,
         event_id % 2000 AS time_acc, event_id % 65536 AS ublox
  FROM events
), d AS (
  SELECT *, lag(ublox) OVER (PARTITION BY hash ORDER BY start, ublox, e_end) AS prev FROM ev
), e AS (
  SELECT hash, start // 120000000 AS win, start // 30000000 AS sub,
         CASE WHEN prev IS NULL THEN 0
              WHEN ublox <= prev THEN ublox + (65535 - prev)
              ELSE ublox - prev END AS delta,
         e_end - start AS pulse, time_acc
  FROM d
), per_sub AS (
  SELECT hash, win, sub, count(*) AS c FROM e GROUP BY hash, win, sub
), rate AS (
  SELECT hash, win,
         round(sum(c) / 4.0, 6) AS rate_mean,
         round(sqrt(sum(c * c) / 4.0 - (sum(c) / 4.0) * (sum(c) / 4.0)), 6) AS rate_std
  FROM per_sub GROUP BY hash, win
), base AS (
  SELECT hash, win, count(*) AS incoming, CAST(sum(delta) AS BIGINT) AS ublox_counter_progress,
         round(avg(CASE WHEN pulse > 0 AND pulse < 1000000 THEN pulse END), 6) AS mean_pulselength,
         round(avg(time_acc), 6) AS mean_time_acc
  FROM e GROUP BY hash, win
), summary AS (
  SELECT base.hash, base.win, incoming, ublox_counter_progress,
         CASE WHEN ublox_counter_progress = 0 THEN 1.0
              ELSE round(1.0 - incoming / ublox_counter_progress, 6) END AS deadtime,
         mean_pulselength, mean_time_acc, rate_mean, rate_std
  FROM base JOIN rate ON base.hash = rate.hash AND base.win = rate.win
)"""


@register(
    "detector_summary",
    oracle=f"""
WITH {_SUMMARY_ORACLE_CTES}
SELECT hash, win, incoming, ublox_counter_progress, deadtime,
       mean_pulselength, mean_time_acc, rate_mean, rate_std
FROM summary
ORDER BY hash, win
""",
    doc="A5 detector summary snapshot (reference src/supervision/station.cpp:89-102): per-station tumbling-interval incoming/wrap-corrected counter progress/deadtime/pulse-length/time-accuracy/rate stats.",
)
def detector_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.station import detector_summaries

    ev = _station_events_us(spark, sf_dir).drop("event_id", "fix")
    out = detector_summaries(ev, interval=120_000_000, sub_interval=30_000_000)
    return out.orderBy("hash", "win")


@register(
    "station_lifecycle",
    oracle=_lifecycle_oracle_sql(),
    doc="§2.8 per-station lifecycle state machine batch replay (reference src/analysis/detectorstation.cpp:89-135): created/reliable/unreliable/offline/deleted transitions with 90s/270s/48h event-time timers and +-15% hysteresis. applyInPandas keyed by station; golden-tested in tests/test_station.py and driver-adjudicated against the recursive-CTE state-machine oracle (plans/lifecycle_oracle.py).",
)
def station_lifecycle_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.station import station_lifecycle

    ev_us = _station_events_us(spark, sf_dir)
    # ns timeline for the state machine (timers are in seconds..hours)
    events = ev_us.select(
        "hash",
        (F.col("start") * 1000).alias("start"),
        (F.col("end") * 1000).alias("end"),
        "time_acc",
        "ublox_counter",
        "fix",
    )
    # every 5th event doubles as a detector_info log; location quality
    # straddles the 299.79 m reliability limit so hysteresis is exercised
    logs = ev_us.filter(F.col("event_id") % 5 == 0).select(
        "hash",
        (F.col("start") * 1000).alias("ts"),
        (1.0 + (F.col("event_id") % 40) / 10.0).alias("dop"),
        (30.0 + (F.col("event_id") % 200)).alias("h_acc"),
        F.lit(40.0).alias("v_acc"),
    )
    return station_lifecycle(logs, events)


@register(
    "timebase_calibration",
    oracle="""
WITH ev AS (SELECT user_id, epoch_us(ts) * 1000 AS start FROM events),
b AS (SELECT start // 2000000000 AS bucket, start FROM ev)
SELECT bucket, max(start) - min(start) AS span_ns, count(*) AS n_events,
       greatest(800000000, least(120000000000, max(start) - min(start))) AS timebase_ns
FROM b GROUP BY bucket
ORDER BY bucket
""",
    doc="W1 adaptive timebase batch calibration (reference src/supervision/timebase.cpp:17-45): observed event-time span per 2 s sample, clamped to [800 ms, 2 min].",
)
def timebase_calibration_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timebase import timebase_calibration

    ev = _station_events_us(spark, sf_dir).select((F.col("start") * 1000).alias("start"))
    return timebase_calibration(ev).orderBy("bucket")


@register(
    "rate_factor",
    oracle="""
WITH ev AS (SELECT user_id AS hash, epoch_us(ts) * 1000 AS start FROM events),
counts AS (
  SELECT hash, start // 30000000000 AS ivl, count(*) AS c FROM ev GROUP BY hash, ivl
), win AS (
  SELECT hash, ivl, c,
         avg(c) OVER w AS mean_c,
         sqrt(avg(c * c) OVER w - avg(c) OVER w * avg(c) OVER w) AS sigma_c
  FROM counts
  WINDOW w AS (PARTITION BY hash ORDER BY ivl ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
)
SELECT hash, ivl, c AS n_events,
       round(mean_c, 6) AS mean_rate, round(sigma_c, 6) AS sigma_rate,
       round(CASE WHEN sigma_c > 0 AND c < mean_c - sigma_c
                  THEN ((mean_c - c) / sigma_c + 1.0) * 2.0 ELSE 1.0 END, 6) AS factor
FROM win
ORDER BY hash, ivl
""",
    doc="W2 adaptive slowdown factor (reference src/analysis/detectorstation.cpp:127-135): rate-dip test over trailing 10 intervals, ((mean-cur)/sigma+1)*2.",
)
def rate_factor_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timebase import rate_factor

    ev = _station_events_us(spark, sf_dir).select("hash", (F.col("start") * 1000).alias("start"))
    return rate_factor(ev).orderBy("hash", "ivl")


@register(
    "adaptive_timeout",
    oracle="""
WITH ev AS (SELECT user_id AS hash, epoch_us(ts) * 1000 AS start FROM events),
counts AS (SELECT hash, start // 30000000000 AS ivl, count(*) AS c FROM ev GROUP BY hash, ivl),
win AS (
  SELECT hash, ivl, c, avg(c) OVER w AS mean_c,
         sqrt(avg(c * c) OVER w - avg(c) OVER w * avg(c) OVER w) AS sigma_c
  FROM counts
  WINDOW w AS (PARTITION BY hash ORDER BY ivl ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
), factors AS (
  SELECT ivl, max(CASE WHEN sigma_c > 0 AND c < mean_c - sigma_c
                       THEN ((mean_c - c) / sigma_c + 1.0) * 2.0 ELSE 1.0 END) AS max_factor
  FROM win GROUP BY ivl
), spans AS (
  SELECT start // 30000000000 AS ivl,
         greatest(800000000, least(120000000000, max(start) - min(start))) AS timebase_ns
  FROM ev GROUP BY ivl
)
SELECT spans.ivl AS ivl, timebase_ns, round(max_factor, 6) AS max_factor,
       greatest(2000000000, least(1800000000000, CAST(trunc(timebase_ns * max_factor) AS BIGINT))) AS timeout_ns
FROM spans JOIN factors ON spans.ivl = factors.ivl
ORDER BY spans.ivl
""",
    doc="W1+W2+W3 composition (reference src/supervision/station.cpp:65-82, src/messages/event.cpp:7-11): cluster-wide max factor x timebase, clamped to [2 s, 30 min] group timeout.",
)
def adaptive_timeout_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timebase import (
        RATE_INTERVAL_NS,
        TIMEBASE_MAX_NS,
        TIMEBASE_MIN_NS,
        group_timeout,
        rate_factor,
    )

    ev = _station_events_us(spark, sf_dir).select("hash", (F.col("start") * 1000).alias("start"))
    factors = (
        rate_factor(ev)
        .groupBy("ivl")
        .agg(F.round(F.max("factor"), 6).alias("max_factor"))
    )
    spans = (
        ev.withColumn("ivl", F.expr(f"start div {RATE_INTERVAL_NS}"))
        .groupBy("ivl")
        .agg(
            F.greatest(
                F.lit(TIMEBASE_MIN_NS), F.least(F.lit(TIMEBASE_MAX_NS), F.max("start") - F.min("start"))
            ).alias("timebase_ns")
        )
    )
    return (
        spans.join(factors, "ivl")
        .select("ivl", "timebase_ns", "max_factor", group_timeout(F.col("timebase_ns"), F.col("max_factor")).alias("timeout_ns"))
        .orderBy("ivl")
    )


@register(
    "quality_filter",
    oracle="""
WITH raw AS (
  SELECT user_id AS hash, event_id FROM events
  UNION ALL
  SELECT (user_id + 3) % 15 AS hash, event_id + 10000000 AS event_id
  FROM events WHERE event_id % 7 = 0
),
ev AS (
  SELECT hash, event_id % 3000 AS time_acc,
         CASE WHEN event_id % 97 = 0 THEN 0 ELSE 1 END AS fix
  FROM raw
)
SELECT hash,
       count(*) AS incoming,
       CAST(sum(CASE WHEN time_acc <= 1000 AND fix = 1 THEN 1 ELSE 0 END) AS BIGINT) AS accepted,
       CAST(sum(CASE WHEN time_acc > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS extreme
FROM ev GROUP BY hash
ORDER BY hash
""",
    doc="F1 event quality gate accounting (reference src/analysis/detectorstation.cpp:31-62): accept iff time_acc <= 1 us and fix = 1; extreme counter for the unreliable side effect.",
)
def quality_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits = muonize_events(spark, sf_dir)
    return (
        hits.groupBy("hash")
        .agg(
            F.count(F.lit(1)).alias("incoming"),
            F.sum(F.when((F.col("time_acc") <= 1000) & (F.col("fix") == 1), 1).otherwise(0)).alias("accepted"),
            F.sum(F.when(F.col("time_acc") > 100_000, 1).otherwise(0)).alias("extreme"),
        )
        .orderBy("hash")
    )


@register(
    "main_path_l1",
    oracle=None,  # replaced by the gated recursive-CTE replay oracle below
    doc="§3.1 main path composition: F1 quality gate -> physics coincidence clustering -> F4 n>=2 filter -> K1 flatten (reference src/application.cpp:188-197 wiring). Driver-adjudicated end to end via the gated variant of the replay oracle.",
)
def main_path_l1(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits = muonize_events(spark, sf_dir).filter(
        (F.col("time_acc") <= 1000) & (F.col("fix") == 1)
    )
    l1 = cluster_coincidences(hits, stations=None, criterion="physics")
    return l1_flatten(l1, min_n=2).drop("session_id")


def _ecef_sql(lat: str, lon: str, h: str) -> tuple[str, str, str]:
    """WGS84 geodetic->ECEF as SQL text (same constants as constants.py,
    inlined at full double precision so both engines fold identical
    literals)."""
    from ..constants import WGS84_A, WGS84_E2

    n = f"({WGS84_A!r} / sqrt(1.0 - {WGS84_E2!r} * sin(radians({lat})) * sin(radians({lat}))))"
    x = f"(({n} + {h}) * cos(radians({lat})) * cos(radians({lon})))"
    y = f"(({n} + {h}) * cos(radians({lat})) * sin(radians({lon})))"
    z = f"(({n} * {1.0 - WGS84_E2!r} + {h}) * sin(radians({lat})))"
    return x, y, z


def _pair_tof_histogram_oracle(extra_where: str = "") -> str:
    """A7 oracle; ``extra_where`` filters the hit stream (e.g. a parity
    split standing in for the reference's periodic histogram saves)."""
    from ..constants import C_M_PER_NS, MAX_TIME_NS

    xa, ya, za = _ecef_sql("lat_a", "lon_a", "h_a")
    xb, yb, zb = _ecef_sql("lat_b", "lon_b", "h_b")
    max_dt = int(MAX_TIME_NS)
    return f"""
WITH n AS (SELECT count(*) AS cnt FROM events),
raw AS (
  SELECT user_id AS hash,
         (((event_id + 1000003) * (event_id + 1000003)) % ((SELECT cnt FROM n) * 400000) * 31
          + event_id * 48271) % ((SELECT cnt FROM n) * 400000) AS start
  FROM events
  UNION ALL
  SELECT (user_id + 3) % 15 AS hash,
         (((event_id + 1000003) * (event_id + 1000003)) % ((SELECT cnt FROM n) * 400000) * 31
          + event_id * 48271) % ((SELECT cnt FROM n) * 400000) + (event_id * 131) % 250000 AS start
  FROM events WHERE event_id % 7 = 0
),
hits AS (
  SELECT hash, start,
         47.0 + (hash % 4) * 0.12 AS lat,
         8.0 + (hash // 4) * 0.15 AS lon,
         450.0 AS h
  FROM raw {extra_where}
),
pairs AS (
  SELECT a.hash AS hash_lo, b.hash AS hash_hi,
         a.start - b.start AS dt,
         a.lat AS lat_a, a.lon AS lon_a, a.h AS h_a,
         b.lat AS lat_b, b.lon AS lon_b, b.h AS h_b
  FROM hits a JOIN hits b
    ON a.hash < b.hash AND abs(a.start - b.start) <= {max_dt}
),
scored AS (
  SELECT hash_lo, hash_hi, dt,
         sqrt( ({xa}-{xb})*({xa}-{xb}) + ({ya}-{yb})*({ya}-{yb}) + ({za}-{zb})*({za}-{zb}) ) AS dist
  FROM pairs
),
binned AS (
  SELECT hash_lo, hash_hi, round(dist, 3) AS distance,
         CAST(trunc(greatest(1.0, least(100.0, 2.0 * (dist / {C_M_PER_NS!r}) / 2000.0))) AS INTEGER) AS bin_width,
         dt
  FROM scored
)
SELECT hash_lo, hash_hi, bin, count(*) AS n, min(distance) AS distance, min(bin_width) AS bin_width
FROM (SELECT *, CAST(floor((dt + bin_width * 1000) / bin_width) AS BIGINT) AS bin FROM binned)
WHERE bin >= 0 AND bin < 2000
GROUP BY hash_lo, hash_hi, bin
ORDER BY hash_lo, hash_hi, bin
"""


@register(
    "pair_tof_histogram",
    oracle=_pair_tof_histogram_oracle(),
    doc="A7 per-pair variable-width Δt histogram (reference src/analysis/stationcoincidence.cpp:224-240): bin width = clamp(2*tof/2000, 1, 100) ns from the WGS84 straight-line pair distance; Δt signed lower-hash minus higher-hash. Spark side = bucketed band join + broadcast station dim; oracle = full ECEF math in SQL.",
)
def pair_tof_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pair_hist_df(spark, sf_dir)


def _pair_hist_df(spark: SparkSession, sf_dir: str, pred=None) -> DataFrame:
    """A7 band-join histogram over the muonized stream; ``pred`` filters the
    hit stream (mirrors the oracle's ``extra_where``).

    The WGS84 ECEF transform runs per HIT, before the band explode/join
    (r12, guide §2.3 "project before the exchange"): the pair stream is
    ~50x the hit stream here, and the old shape re-evaluated the full
    trig (4 sin/cos + sqrt per side) on every PAIR row. Same expression
    tree applied earlier -> the chord distance is bit-identical
    (xor-hash-verified at sf0.1; the A/B read 2.83 -> 1.57 s for the
    histogram build)."""
    from ..constants import MAX_TIME_NS
    from ..operators.histogram import MAX_BIN_WIDTH_NS, N_BINS, bin_width_expr
    from ..functions.geodesy import _ecef_cols

    hits = muonize_events(spark, sf_dir).select("hash", "start", "lat", "lon", "h")
    if pred is not None:
        hits = hits.filter(pred)
    ex, ey, ez = _ecef_cols(F.col("lat"), F.col("lon"), F.col("h"))
    hits = hits.select("hash", "start", ex.alias("x"), ey.alias("y"), ez.alias("z"))
    max_dt = int(MAX_TIME_NS)
    bkt = F.expr(f"start div {max_dt}")
    a = hits.withColumn("bucket", F.explode(F.array(bkt - 1, bkt, bkt + 1))).select(
        F.col("hash").alias("hash_lo"), F.col("start").alias("start_a"),
        F.col("x").alias("x_a"), F.col("y").alias("y_a"), F.col("z").alias("z_a"), "bucket",
    )
    b = hits.withColumn("bucket", bkt).select(
        F.col("hash").alias("hash_hi"), F.col("start").alias("start_b"),
        F.col("x").alias("x_b"), F.col("y").alias("y_b"), F.col("z").alias("z_b"), "bucket",
    )
    pairs = (
        a.join(b, "bucket")
        .filter((F.col("hash_lo") < F.col("hash_hi")) & (F.abs(F.col("start_a") - F.col("start_b")) <= max_dt))
        .select(
            "hash_lo", "hash_hi", (F.col("start_a") - F.col("start_b")).alias("dt"),
            "x_a", "y_a", "z_a", "x_b", "y_b", "z_b",
        )
    )
    dist = F.sqrt(
        (F.col("x_a") - F.col("x_b")) * (F.col("x_a") - F.col("x_b"))
        + (F.col("y_a") - F.col("y_b")) * (F.col("y_a") - F.col("y_b"))
        + (F.col("z_a") - F.col("z_b")) * (F.col("z_a") - F.col("z_b"))
    )
    binned = (
        pairs.withColumn("distance", F.round(dist, 3))
        .withColumn("bin_width", bin_width_expr(dist))
        .withColumn("bin", F.floor((F.col("dt") + F.col("bin_width") * (N_BINS // 2)) / F.col("bin_width")))
        .filter((F.col("bin") >= 0) & (F.col("bin") < N_BINS))
    )
    return (
        binned.groupBy("hash_lo", "hash_hi", "bin")
        .agg(F.count(F.lit(1)).alias("n"), F.min("distance").alias("distance"), F.min("bin_width").alias("bin_width"))
        .orderBy("hash_lo", "hash_hi", "bin")
    )


@register(
    "l1_pair_histogram",
    oracle=None,
    doc="A7 on true clustered output: constituent pairs of each n>=2 coincidence, per-pair variable-width bins (reference src/analysis/stationcoincidence.cpp:43-80). Oracle: the recursive clustering replay + pair-binning SQL, attached post-registration by _finalize_l1_oracles.",
)
def l1_pair_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.histogram import pair_dt_histogram

    hits = muonize_events(spark, sf_dir)
    stations = hits.select("hash", "lat", "lon", "h").distinct()
    l1 = cluster_coincidences(hits, stations=None, criterion="physics")
    return pair_dt_histogram(l1, stations)


def _geohash_sql(lat: str, lon: str, precision: int) -> str:
    """Geohash in portable SQL — same integer formulation as
    functions.geodesy.geohash_col."""
    base32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    total = precision * 5
    nlon = (total + 1) // 2
    nlat = total // 2
    lon_q = f"least({(1 << nlon) - 1}, CAST(floor(({lon} + 180.0) / 360.0 * {1 << nlon}) AS BIGINT))"
    lat_q = f"least({(1 << nlat) - 1}, CAST(floor(({lat} + 90.0) / 180.0 * {1 << nlat}) AS BIGINT))"

    def bit(k: int) -> str:
        if k % 2 == 0:
            return f"(({lon_q} >> {nlon - 1 - k // 2}) & 1)"
        return f"(({lat_q} >> {nlat - 1 - k // 2}) & 1)"

    chars = []
    for c in range(precision):
        idx = " + ".join(f"{bit(c * 5 + j)} * {1 << (4 - j)}" for j in range(5))
        chars.append(f"substr('{base32}', CAST(({idx}) + 1 AS INTEGER), 1)")
    return " || ".join(chars)


@register(
    "station_geohash",
    oracle=f"""
WITH stations AS (
  SELECT DISTINCT user_id AS hash,
         47.0 + (user_id % 4) * 0.12 AS lat,
         8.0 + (user_id // 4) * 0.15 AS lon
  FROM events
)
SELECT hash, {_geohash_sql("lat", "lon", 6)} AS geohash,
       substr({_geohash_sql("lat", "lon", 6)}, 1, 3) AS geohash_anon
FROM stations ORDER BY hash
""",
    doc="F5 anonymization projection (reference include/sink/mqtt.h:156-158): geohash encode + truncate to max_geohash_length — flat JVM bit arithmetic, no UDF; oracle carries the identical integer formulation in SQL.",
)
def station_geohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.geodesy import geohash_col

    st = (
        load_table(spark, sf_dir, "events")
        .select(F.col("user_id").alias("hash"))
        .distinct()
        .select(
            "hash",
            (47.0 + (F.col("hash") % 4) * 0.12).alias("lat"),
            (8.0 + F.floor(F.col("hash") / 4) * 0.15).alias("lon"),
        )
    )
    gh = geohash_col(F.col("lat"), F.col("lon"), 6)
    return st.select(
        "hash", gh.alias("geohash"), F.substring(gh, 1, 3).alias("geohash_anon")
    ).orderBy("hash")


@register(
    "cluster_log",
    oracle=None,
    doc="A6 cluster health log (reference src/supervision/state.cpp:106-136, include/messages/clusterlog.h:12-32): per 10s window — single_in/l1_out frequencies, outgoing count-by-multiplicity map, running max_n, mean plausibility (true_e / (n(n-1)/2)) of L1 events. cpu/mem live in streaming/monitor.py::ClusterLogListener, outside the data plane. Oracle: the recursive clustering replay + window stats SQL, attached by _finalize_l1_oracles.",
)
def cluster_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits = muonize_events(spark, sf_dir)
    l1 = cluster_coincidences(hits, stations=None, criterion="physics").localCheckpoint(eager=False)
    win = F.expr("start div 10000000000")  # 10 s of muonized time
    max_edges = (F.col("n") * (F.col("n") - 1) / 2).cast("double")
    base = l1.select(
        win.alias("window"),
        "n",
        F.when(F.col("n") >= 2, F.col("true_e") / max_edges).alias("plausibility"),
    )
    stats = base.groupBy("window").agg(
        F.sum("n").alias("single_in"),
        F.sum(F.when(F.col("n") >= 2, 1).otherwise(0)).alias("l1_out"),
        F.max("n").alias("max_n"),
        F.round(F.avg("plausibility"), 6).alias("mean_plausibility"),
    )
    # outgoing: count-by-coincidence-level map (clusterlog.h:21), emitted as a
    # deterministic JSON string (sorted by n) — scalar column so every
    # comparator (driver canon included) can sort/hash it.
    outgoing = (
        base.groupBy("window", "n")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("window")
        .agg(
            F.to_json(
                F.sort_array(F.collect_list(F.struct("n", "cnt")))
            ).alias("outgoing")
        )
    )
    return (
        stats.join(outgoing, "window")
        .withColumn("in_rate_hz", F.round(F.col("single_in") / 10.0, 6))
        .withColumn("out_rate_hz", F.round(F.col("l1_out") / 10.0, 6))
        .orderBy("window")
    )


def _muonize_hits_sql() -> str:
    """DuckDB mirror of muonize_events (hash, start, e_end, time_acc, fix) —
    shared CTE text for the flagship-adjacent oracles."""
    return """
nn AS (SELECT count(*) AS cnt FROM events),
raw AS (
  SELECT user_id AS hash, event_id,
         (((event_id + 1000003) * (event_id + 1000003)) % ((SELECT cnt FROM nn) * 400000) * 31
          + event_id * 48271) % ((SELECT cnt FROM nn) * 400000) AS start
  FROM events
  UNION ALL
  SELECT (user_id + 3) % 15 AS hash, event_id + 10000000 AS event_id,
         (((event_id + 1000003) * (event_id + 1000003)) % ((SELECT cnt FROM nn) * 400000) * 31
          + event_id * 48271) % ((SELECT cnt FROM nn) * 400000) + (event_id * 131) % 250000 AS start
  FROM events WHERE event_id % 7 = 0
),
hits AS (
  SELECT hash, start, start + 1000 + event_id % 400000 AS e_end,
         event_id % 3000 AS time_acc,
         CASE WHEN event_id % 97 = 0 THEN 0 ELSE 1 END AS fix
  FROM raw
)"""


_MEMBER_T = (
    "STRUCT(hash BIGINT, start BIGINT, e_end BIGINT, time_acc BIGINT, "
    "x DOUBLE, y DOUBLE, z DOUBLE)"
)
_GROUP_T = f"STRUCT(ord BIGINT, conflicting BOOLEAN, true_e BIGINT, members {_MEMBER_T}[])"


def _physics_score_sql(h: str, mm: str) -> str:
    """compare_physics as SQL text — op-for-op the golden model's arithmetic
    (operators/golden.py::compare_physics), so IEEE results are identical up
    to libm trig ulps in the ECEF inputs (verdict flips are measure-zero:
    dt is integer ns, tof carries ~1e-10 ns of ulp sensitivity)."""
    from ..constants import C_M_PER_NS, MAX_TIME_NS

    delta = f"CAST(abs({h}.start - {mm}.start) AS DOUBLE)"
    dist = (
        f"sqrt(({h}.x-{mm}.x)*({h}.x-{mm}.x) + ({h}.y-{mm}.y)*({h}.y-{mm}.y)"
        f" + ({h}.z-{mm}.z)*({h}.z-{mm}.z))"
    )
    tof = f"greatest({dist} / {C_M_PER_NS!r}, 150.0)"
    return (
        f"CASE WHEN {delta} > {MAX_TIME_NS!r} THEN -1.0 "
        f"ELSE greatest(1.0 - {delta} / {tof}, -1.0) END"
    )


def _l1_groups_cte(gated: bool) -> str:
    """Full coincidence-filter replay as a DuckDB recursive CTE.

    This is the SQL oracle for the §2.5 flagship (reference
    src/analysis/coincidencefilter.cpp:60-143): per gap-session the buffer
    is ONE row whose state is a LIST of open groups; each recursive
    iteration folds the next hit (canonical (start, hash) order) using list
    lambdas only — probe scan (overlap exclusion + criterion verdict),
    first-match fold, transitive merge with the ORIGINAL incoming event,
    conflicting/true_e bookkeeping. Validated group-for-group (member order
    included) against the golden model at sf0.001 and sf0.01.

    Emits ``groups(sid, g_start, g_end, n, conflicting, true_e, members)``;
    callers append their final SELECT. Starts with WITH RECURSIVE.
    """
    from ..constants import MEAN_FALSE_THRESHOLD, MEAN_TRUE_THRESHOLD

    x, y, z = _ecef_sql("47.0 + (hash % 4) * 0.12", "8.0 + (hash // 4) * 0.15", "450.0")
    gate = "WHERE time_acc <= 1000 AND fix = 1" if gated else ""
    score = _physics_score_sql("h", "mm")
    # Bind the per-group score list once via the single-element-list lambda
    # trick; verdicts mirror criterion::apply (golden.py::apply_criterion).
    vstruct = f"""list_transform(
        [list_transform(g.members, mm -> {score})],
        sc -> struct_pack(
          verdict := CASE WHEN len(g.members) = 1
                 THEN CASE WHEN sc[1] > 0.0 THEN 2 ELSE 0 END
                 ELSE CASE
                   WHEN list_aggregate(sc, 'sum') / CAST(len(g.members) AS DOUBLE)
                        < {MEAN_FALSE_THRESHOLD!r} THEN 0
                   WHEN list_aggregate(sc, 'sum') / CAST(len(g.members) AS DOUBLE)
                        > {MEAN_TRUE_THRESHOLD!r}
                        AND len(list_filter(sc, v -> v > 0.0)) = len(g.members) THEN 2
                   ELSE 1 END END,
          vtrue := CASE WHEN len(g.members) = 1
                 THEN CASE WHEN sc[1] > 0.0 THEN 1 ELSE 0 END
                 ELSE len(list_filter(sc, v -> v > 0.0)) END))[1]"""
    merged = """list_filter(
        list_transform(scored, sx -> CASE WHEN sx.g.ord = m[1].g.ord THEN
            struct_pack(ord := sx.g.ord,
                        conflicting := sx.g.conflicting OR len(m) > 1,
                        true_e := sx.g.true_e +
                          CAST(list_aggregate(list_transform(m, yy -> CAST(yy.v.vtrue AS BIGINT)), 'sum') AS BIGINT),
                        members := sx.g.members || [h] || flatten(list_transform(m[2:], yy -> yy.g.members)))
          ELSE sx.g END),
        gg -> gg.ord = m[1].g.ord OR NOT list_contains(list_transform(m[2:], yy -> yy.g.ord), gg.ord))"""
    singleton = (
        "list_append(buf, struct_pack(ord := i, conflicting := false, "
        "true_e := CAST(0 AS BIGINT), members := [h]))"
    )
    return f"""
WITH RECURSIVE {_muonize_hits_sql()},
geo AS (
  SELECT CAST(hash AS BIGINT) AS hash, CAST(start AS BIGINT) AS start,
         CAST(e_end AS BIGINT) AS e_end, CAST(time_acc AS BIGINT) AS time_acc,
         {x} AS x, {y} AS y, {z} AS z
  FROM hits {gate}
),
l1brk AS (
  SELECT *, CASE WHEN start - lag(start) OVER (ORDER BY start, hash) > {_PHYSICS_CUTOFF_NS}
                 THEN 1 ELSE 0 END AS b
  FROM geo
),
l1sess AS (
  SELECT *, sum(b) OVER (ORDER BY start, hash ROWS UNBOUNDED PRECEDING) AS sid
  FROM l1brk
),
shits AS MATERIALIZED (
  -- MATERIALIZED is load-bearing (same pin as the converged-graph
  -- oracles): the recursive step joins shits on every iteration, and
  -- DuckDB inlines non-recursive CTEs referenced from a recursive term,
  -- which would re-evaluate the whole muonize/session chain once per
  -- replayed hit position at sf0.1
  SELECT sid, CAST(count(*) AS BIGINT) AS len,
         list(struct_pack(hash := hash, start := start, e_end := e_end,
                          time_acc := time_acc, x := x, y := y, z := z)
              ORDER BY start, hash) AS hl
  FROM l1sess GROUP BY sid
),
replay(sid, i, len, buf) AS (
  SELECT sid, CAST(0 AS BIGINT), len, CAST([] AS {_GROUP_T}[]) FROM shits WHERE len >= 2
  UNION ALL
  SELECT sid, i, len,
         CASE WHEN len(m) = 0 THEN {singleton} ELSE {merged} END
  FROM (
    SELECT sid, i, len, buf, h, scored,
           list_filter(scored, sx -> NOT sx.ov AND sx.v.verdict != 0) AS m
    FROM (
      SELECT sid, i, len, buf, h,
             list_transform(buf, g -> struct_pack(
                g := g,
                ov := list_contains(list_transform(g.members, mm -> mm.hash), h.hash),
                v := {vstruct})) AS scored
      FROM (
        SELECT r.sid, r.i + 1 AS i, r.len, r.buf AS buf, s.hl[r.i + 1] AS h
        FROM replay r JOIN shits s ON r.sid = s.sid
        WHERE r.i < r.len
      )
    )
  )
),
all_groups AS (
  SELECT sid, unnest(buf) AS g FROM replay WHERE i = len
  UNION ALL
  SELECT sid, struct_pack(ord := CAST(1 AS BIGINT), conflicting := false,
                          true_e := CAST(0 AS BIGINT), members := [hl[1]]) AS g
  FROM shits WHERE len = 1
),
groups AS (
  SELECT sid,
         list_aggregate(list_transform(g.members, mm -> mm.start), 'min') AS g_start,
         CASE WHEN len(g.members) = 1 THEN g.members[1].e_end
              ELSE list_aggregate(list_transform(g.members, mm -> mm.start), 'max') END AS g_end,
         len(g.members) AS n, g.conflicting AS conflicting, g.true_e AS true_e,
         g.members AS members
  FROM all_groups
)"""


_L1_FLATTEN_SELECT = """
SELECT lpad(hex(members[1].hash), 16, '0') || lpad(hex(g_start), 16, '0') AS uuid,
       g_start AS group_start, g_end AS group_end,
       CAST(n AS INTEGER) AS n, conflicting, CAST(true_e AS INTEGER) AS true_e,
       CAST(pos AS INTEGER) AS pos, m.hash AS hash, m.start AS start,
       m.e_end AS "end", CAST(m.time_acc AS INTEGER) AS time_acc
FROM (
  SELECT *, unnest(members) AS m, unnest(range(0, n)) AS pos
  FROM groups WHERE n >= 2
)"""


@register(
    "l1_candidate_sessions",
    oracle=f"""
WITH {_muonize_hits_sql()},
brk AS (
  SELECT start, CASE WHEN start - lag(start) OVER (ORDER BY start) > {_PHYSICS_CUTOFF_NS}
                THEN 1 ELSE 0 END AS b
  FROM hits
),
sess AS (
  SELECT start, sum(b) OVER (ORDER BY start ROWS UNBOUNDED PRECEDING) AS sid FROM brk
)
SELECT min(start) AS session_start,
       CAST(count(*) AS BIGINT) AS n_hits,
       CAST(count(*) AS BIGINT) AS session_n,
       max(start) - min(start) AS span_ns
FROM sess GROUP BY sid
ORDER BY session_start
""",
    doc="Candidate-generation phase of the §2.5 flagship operator, driver-adjudicated: the distributed range-sort sessionizer (operators/sessionize.py — one full shuffle, O(#partitions) boundary union-find) against a global-window SQL sessionization. session_n doubles as a check of the operator's boundary size-fix path.",
)
def l1_candidate_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessionize import sessionize_global_gap

    hits = muonize_events(spark, sf_dir)
    sess = sessionize_global_gap(hits, "start", _PHYSICS_CUTOFF_NS)
    return (
        sess.groupBy("session_id")
        .agg(
            F.min("start").alias("session_start"),
            F.count(F.lit(1)).alias("n_hits"),
            F.min("session_n").alias("session_n"),
            (F.max("start") - F.min("start")).alias("span_ns"),
        )
        .drop("session_id")
        .orderBy("session_start")
    )


@register(
    "l1_invariants",
    oracle=f"""
WITH {_muonize_hits_sql()}
SELECT CAST(count(*) AS BIGINT) AS total_constituents,
       min(start) AS min_group_start,
       CAST(sum(CASE WHEN time_acc <= 1000 AND fix = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS mainpath_constituents
FROM hits
""",
    doc="Driver-adjudicated mass-balance invariants of the flagship clustering (reference src/analysis/coincidencefilter.cpp:94-143): every hit lands in exactly one group, so sum(n) over all groups equals the input count (and the F1-gated main path's sum(n) equals the post-gate count); the group envelope floor equals the earliest hit. A dropped/duplicated event in the sessionize->kernel pipeline breaks the hash match.",
)
def l1_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits = muonize_events(spark, sf_dir)
    l1 = cluster_coincidences(hits, stations=None, criterion="physics")
    gated = hits.filter((F.col("time_acc") <= 1000) & (F.col("fix") == 1))
    l1_main = cluster_coincidences(gated, stations=None, criterion="physics")
    a = l1.agg(
        F.sum("n").cast("long").alias("total_constituents"),
        F.min("start").alias("min_group_start"),
    )
    b = l1_main.agg(F.sum("n").cast("long").alias("mainpath_constituents"))
    return a.crossJoin(b)


@register(
    "l1_multiplicity_histogram",
    oracle=None,
    doc="A6 'outgoing' count-by-coincidence-level map (reference include/messages/clusterlog.h:21): histogram of L1 multiplicities.",
)
def l1_multiplicity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits = muonize_events(spark, sf_dir)
    l1 = cluster_coincidences(hits, stations=None, criterion="physics")
    return l1.groupBy("n").agg(F.count(F.lit(1)).alias("n_groups")).orderBy("n")


# --- Replay-oracle attachment -------------------------------------------------
# The five clustering-dependent queries above register with oracle=None (their
# SQL needs the builders defined mid-module); the registry entries are
# finalized here with the recursive-CTE replay oracle so the driver
# adjudicates the full flagship pipeline, not just row counts.


def _pair_hist_from_groups_sql() -> str:
    """A7 histogram over replay-oracle groups — mirrors
    operators/histogram.py::pair_dt_histogram column for column."""
    from ..constants import C_M_PER_NS

    xa, ya, za = _ecef_sql("lat_a", "lon_a", "h_a")
    xb, yb, zb = _ecef_sql("lat_b", "lon_b", "h_b")
    return f""",
pr AS (
  SELECT unnest(flatten(list_transform(members, (a, i) ->
           list_transform(members[i+1:], b -> struct_pack(
             hash_lo := least(a.hash, b.hash),
             hash_hi := greatest(a.hash, b.hash),
             dt := CASE WHEN a.hash < b.hash THEN a.start - b.start
                        ELSE b.start - a.start END))))) AS p
  FROM groups WHERE n >= 2
),
pe AS (
  SELECT p.hash_lo AS hash_lo, p.hash_hi AS hash_hi, p.dt AS dt,
         47.0 + (p.hash_lo % 4) * 0.12 AS lat_a, 8.0 + (p.hash_lo // 4) * 0.15 AS lon_a, 450.0 AS h_a,
         47.0 + (p.hash_hi % 4) * 0.12 AS lat_b, 8.0 + (p.hash_hi // 4) * 0.15 AS lon_b, 450.0 AS h_b
  FROM pr
),
pscored AS (
  SELECT hash_lo, hash_hi, dt,
         sqrt( ({xa}-{xb})*({xa}-{xb}) + ({ya}-{yb})*({ya}-{yb}) + ({za}-{zb})*({za}-{zb}) ) AS dist
  FROM pe
),
pbinned AS (
  SELECT hash_lo, hash_hi, round(dist, 3) AS distance,
         CAST(trunc(greatest(1.0, least(100.0, 2.0 * (dist / {C_M_PER_NS!r}) / 2000.0))) AS INTEGER) AS bin_width,
         dt
  FROM pscored
)
SELECT hash_lo, hash_hi, min(distance) AS distance,
       CAST(min(bin_width) AS INTEGER) AS bin_width, bin, count(*) AS n
FROM (SELECT *, CAST(floor((dt + bin_width * 1000) / bin_width) AS BIGINT) AS bin FROM pbinned)
WHERE bin >= 0 AND bin < 2000
GROUP BY hash_lo, hash_hi, bin
"""


_CLUSTER_LOG_SELECT = """,
wins AS (
  SELECT g_start // 10000000000 AS "window", n, true_e FROM groups
),
wstats AS (
  SELECT "window", CAST(sum(n) AS BIGINT) AS single_in,
         CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS l1_out,
         CAST(max(n) AS INTEGER) AS max_n,
         round(avg(CASE WHEN n >= 2 THEN true_e / (n * (n - 1) / 2) END), 6) AS mean_plausibility
  FROM wins GROUP BY "window"
),
wout AS (
  SELECT "window", to_json(list_sort(list(struct_pack(n := n, cnt := cnt)))) AS outgoing
  FROM (SELECT "window", CAST(n AS INTEGER) AS n, count(*) AS cnt FROM wins GROUP BY "window", n)
  GROUP BY "window"
)
SELECT wstats."window" AS "window", single_in, l1_out, max_n, mean_plausibility,
       wout.outgoing AS outgoing,
       round(single_in / 10.0, 6) AS in_rate_hz, round(l1_out / 10.0, 6) AS out_rate_hz
FROM wstats JOIN wout ON wstats."window" = wout."window"
ORDER BY wstats."window"
"""


def _finalize_l1_oracles() -> None:
    from dataclasses import replace

    from . import REGISTRY

    ungated = _l1_groups_cte(gated=False)
    gated = _l1_groups_cte(gated=True)
    oracles = {
        "l1_coincidence": ungated + _L1_FLATTEN_SELECT,
        "main_path_l1": gated + _L1_FLATTEN_SELECT,
        "l1_multiplicity_histogram": ungated
        + "\nSELECT CAST(n AS INTEGER) AS n, count(*) AS n_groups FROM groups GROUP BY n ORDER BY n",
        "l1_pair_histogram": ungated + _pair_hist_from_groups_sql(),
        "cluster_log": ungated + _CLUSTER_LOG_SELECT,
    }
    for name, sql in oracles.items():
        REGISTRY[name] = replace(REGISTRY[name], oracle=sql)


_finalize_l1_oracles()


@register(
    "pair_totals",
    oracle=f"""
SELECT hash_lo, hash_hi, CAST(sum(n) AS BIGINT) AS total
FROM ({_pair_tof_histogram_oracle()})
GROUP BY hash_lo, hash_hi
ORDER BY hash_lo, hash_hi
""",
    doc="A8 adjacency totals (reference src/analysis/stationcoincidence.cpp:214-222): per-pair coincidence counts summed over histogram bins — the long-format 'matrix' that stays distributed at 100 TB.",
)
def pair_totals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.histogram import pair_totals

    return pair_totals(_pair_hist_df(spark, sf_dir)).orderBy("hash_lo", "hash_hi")


@register(
    "histogram_merge",
    oracle=f"""
SELECT hash_lo, hash_hi, min(distance) AS distance,
       CAST(min(bin_width) AS INTEGER) AS bin_width, bin, CAST(sum(n) AS BIGINT) AS n
FROM (
  SELECT * FROM ({_pair_tof_histogram_oracle("WHERE start % 2 = 0")})
  UNION ALL
  SELECT * FROM ({_pair_tof_histogram_oracle("WHERE start % 2 = 1")})
)
GROUP BY hash_lo, hash_hi, bin
ORDER BY hash_lo, hash_hi, bin
""",
    doc="A9 offline histogram merge (reference src/aggregation.cpp:125-203): two saved histogram tables (a parity split standing in for periodic saves) summed per (pair, bin) with per-pair metadata carried through — operators/histogram.py::merge_histograms, driver-adjudicated.",
)
def histogram_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.histogram import merge_histograms

    even = _pair_hist_df(spark, sf_dir, F.col("start") % 2 == 0)
    odd = _pair_hist_df(spark, sf_dir, F.col("start") % 2 == 1)
    return merge_histograms(even, odd).orderBy("hash_lo", "hash_hi", "bin")


# --------------------------------------------------------------------------
# K1/K2 sink formatters for the non-L1 message types (reference
# include/sink/mqtt.h:98-221 and include/sink/database.h:56-133,167-190).
# Each query runs the real engine operator, then the pure-column formatter
# from streaming/sinks.py, and is adjudicated byte-exactly against a DuckDB
# oracle that builds the same strings.
# --------------------------------------------------------------------------

_SINK_TS_SQL = "strftime(make_timestamp({us}), '%Y-%m-%d_%H-%M-%S')"
# metric list mirrors streaming/sinks.SUMMARY_METRICS (publish order,
# 'ublox_counter_progess' typo preserved from mqtt.h:143)
_SUMMARY_METRIC_VALUES = (
    "(VALUES (0, 'eventrate'), (1, 'eventrate_stddev'), (2, 'time_acc'), "
    "(3, 'pulselength'), (4, 'incoming'), (5, 'ublox_counter_progess'), "
    "(6, 'deadtime_factor')) AS m(idx, metric)"
)
_SUMMARY_VALUE_CASE = """CASE m.idx
  WHEN 0 THEN printf('%.6f', coalesce(rate_mean, 0.0))
  WHEN 1 THEN printf('%.6f', coalesce(rate_std, 0.0))
  WHEN 2 THEN printf('%.6f', coalesce(mean_time_acc, 0.0))
  WHEN 3 THEN printf('%.6f', coalesce(mean_pulselength, 0.0))
  WHEN 4 THEN printf('%d', incoming)
  WHEN 5 THEN printf('%d', ublox_counter_progress)
  ELSE printf('%.6f', coalesce(deadtime, 0.0))
END"""


def _summary_with_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """detector_summary frame + synthesized userinfo (the fixtures carry no
    usernames; 'u<hash>'/'s<hash%9>' matches the parse_event_lines scheme)
    + the window-start event time the formatter stamps lines with."""
    from ..operators.station import detector_summaries

    ev = _station_events_us(spark, sf_dir).drop("event_id", "fix")
    out = detector_summaries(ev, interval=120_000_000, sub_interval=30_000_000)
    return out.select(
        "*",
        F.concat(F.lit("u"), F.col("hash")).alias("user"),
        F.concat(F.lit("s"), F.col("hash") % 9).alias("station_id"),
        (F.col("win") * 120_000_000).alias("ts_us"),
    )


@register(
    "sink_summary_text",
    oracle=f"""
WITH {_SUMMARY_ORACLE_CTES}
SELECT hash, win, m.idx AS idx,
       {_SINK_TS_SQL.format(us='win * 120000000')}
         || ' u' || hash || ' s' || (hash % 9) || ' ' || m.metric || ' '
         || {_SUMMARY_VALUE_CASE} AS line
FROM summary CROSS JOIN {_SUMMARY_METRIC_VALUES}
ORDER BY hash, win, idx
""",
    doc="K1 detector_summary MQTT text lines (reference include/sink/mqtt.h:128-146): '<gmtime %F_%H-%M-%S> <user> <station> <metric> <value>' per metric in publish order (including the reference's 'ublox_counter_progess' spelling). streaming/sinks.py::summary_text_lines — map-only explode, byte-exact oracle.",
)
def sink_summary_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sinks import summary_text_lines

    return summary_text_lines(_summary_with_identity(spark, sf_dir)).orderBy(
        "hash", "win", "idx"
    )


@register(
    "sink_summary_influx",
    oracle=f"""
WITH {_SUMMARY_ORACLE_CTES}
SELECT hash, win,
       'detector_summary,user=u' || hash || ',detector=s' || (hash % 9)
         || ',site_id=u' || hash || 's' || (hash % 9)
         || ' eventrate=' || printf('%.6f', coalesce(rate_mean, 0.0))
         || ',eventrate_stddev=' || printf('%.6f', coalesce(rate_std, 0.0))
         || ',time_acc=' || printf('%.6f', coalesce(mean_time_acc, 0.0))
         || ',pulselength=' || printf('%.6f', coalesce(mean_pulselength, 0.0))
         || ',incoming=' || printf('%d', incoming) || 'i'
         || ',ublox_counter_progress=' || printf('%d', ublox_counter_progress) || 'i'
         || ',deadtime_factor=' || printf('%.6f', coalesce(deadtime, 0.0))
         || ' ' || printf('%d', win * 120000000 * 1000) AS point
FROM summary
ORDER BY hash, win
""",
    doc="K2 detector_summary InfluxDB line-protocol points (reference include/sink/database.h:95-113): measurement detector_summary, tags user/detector/site_id, seven fields in reference order ('i'-suffixed integers), ns timestamp. streaming/sinks.py::summary_influx_points.",
)
def sink_summary_influx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sinks import summary_influx_points

    return summary_influx_points(_summary_with_identity(spark, sf_dir)).orderBy(
        "hash", "win"
    )


@register(
    "sink_trigger_lines",
    oracle=f"""
SELECT hash, ts,
       'u' || hash || '/s' || (hash % 9) AS topic,
       {_SINK_TS_SQL.format(us='ts // 1000')} || ' GMT ' || status || ' ' || reason AS line
FROM ({_lifecycle_oracle_sql()}) t
ORDER BY hash, ts, line
""",
    doc="K1 trigger::detector MQTT lines (reference include/sink/mqtt.h:188-199): topic 'user/station', payload '<gmtime %F_%H-%M-%S %Z> <status> <reason>' on the station_lifecycle transition stream. streaming/sinks.py::trigger_text_lines over the recursive-CTE lifecycle oracle.",
)
def sink_trigger_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.station import station_lifecycle
    from ..streaming.sinks import trigger_text_lines

    logs, events = _lifecycle_inputs(spark, sf_dir)
    tr = station_lifecycle(logs, events).select(
        "*",
        F.concat(F.lit("u"), F.col("hash")).alias("user"),
        F.concat(F.lit("s"), F.col("hash") % 9).alias("station_id"),
    )
    return trigger_text_lines(tr).orderBy("hash", "ts", "line")


_DAY_US_SINK = 86_400_000_000


@register(
    "sink_detector_log_lines",
    oracle=f"""
WITH eav AS (
  SELECT user_id, epoch_us(ts) // {_DAY_US_SINK} AS bucket, event_type AS name,
         CASE event_id % 3
           WHEN 0 THEN json_extract_string(props, '$.k')
           WHEN 1 THEN json_extract_string(props, '$.k') || '.25'
           ELSE 'txt_' || json_extract_string(props, '$.k')
         END AS value
  FROM events
)
SELECT 'u' || user_id || '/s' || (user_id % 9) AS topic,
       {_SINK_TS_SQL.format(us=f'bucket * {_DAY_US_SINK}')} || ' ' || name || ' ' || value AS line
FROM eav
ORDER BY topic, line
""",
    doc="K1 detector_log_t MQTT lines (reference include/sink/mqtt.h:201-221): topic 'user/station', payload '<gmtime> <name> <value>' per EAV item (values exercise the Int/Double/String item types). streaming/sinks.py::detector_log_text_lines.",
)
def sink_detector_log_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sinks import detector_log_text_lines

    eav = _eav_typed(spark, sf_dir)
    return detector_log_text_lines(eav).orderBy("topic", "line")


def _eav_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EAV stream off the events fixture with value strings cycling through
    the reference's three detector_log item types (Int / Double / String)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    value = (
        F.when(F.col("event_id") % 3 == 0, k)
        .when(F.col("event_id") % 3 == 1, F.concat(k, F.lit(".25")))
        .otherwise(F.concat(F.lit("txt_"), k))
    )
    us = ts_to_us(ev)
    return ev.select(
        F.col("user_id"),
        (us - us % _DAY_US_SINK).alias("ts_us"),
        ((us - us % _DAY_US_SINK) / _DAY_US_SINK).cast("long").alias("bucket"),
        F.col("event_type").alias("name"),
        value.alias("value"),
        F.concat(F.lit("u"), F.col("user_id")).alias("user"),
        F.concat(F.lit("s"), F.col("user_id") % 9).alias("station_id"),
    )


@register(
    "sink_detector_log_influx",
    oracle=f"""
WITH eav AS (
  SELECT user_id, epoch_us(ts) // {_DAY_US_SINK} AS bucket, event_type AS name,
         CASE event_id % 3
           WHEN 0 THEN json_extract_string(props, '$.k')
           WHEN 1 THEN json_extract_string(props, '$.k') || '.25'
           ELSE 'txt_' || json_extract_string(props, '$.k')
         END AS value
  FROM events
), typed AS (
  SELECT user_id, bucket,
         name || '=' ||
         CASE
           WHEN regexp_full_match(value, '-?\\d+') THEN value || 'i'
           WHEN regexp_full_match(value, '-?\\d+\\.\\d+([eE][+-]?\\d+)?') THEN value
           ELSE '"' || replace(value, '"', '\\"') || '"'
         END AS item
  FROM eav
)
SELECT user_id, bucket,
       'detector_log,user=u' || user_id || ',detector=s' || (user_id % 9)
         || ',site_id=u' || user_id || 's' || (user_id % 9) || ' '
         || string_agg(item, ',' ORDER BY item) || ' '
         || printf('%d', bucket * {_DAY_US_SINK} * 1000) AS point
FROM typed
GROUP BY user_id, bucket
ORDER BY user_id, bucket
""",
    doc="K2 detector_log points (reference include/sink/database.h:167-190): ONE point per log assembly, every EAV item a typed field (Int -> 'i' suffix, Double plain, String quoted), tags user/detector/site_id, ns timestamp. streaming/sinks.py::detector_log_influx_points — plain hash groupBy, map-side partials.",
)
def sink_detector_log_influx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sinks import detector_log_influx_points

    eav = _eav_typed(spark, sf_dir)
    out = detector_log_influx_points(eav, ["user_id", "bucket"])
    return out.orderBy("user_id", "bucket")


@register(
    "sink_cluster_log_lines",
    oracle=None,
    doc="K1 cluster_log_t MQTT lines (reference include/sink/mqtt.h:98-126): '<gmtime> <metric> <value>' per metric + 'outgoing_<level>' per level != 1, host-side statics injected first. Byte-exact oracle over the recursive clustering replay (attached post-registration by _finalize_sink_clog_oracles). streaming/sinks.py::cluster_log_text_lines.",
)
def sink_cluster_log_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sinks import cluster_log_text_lines

    clog = cluster_log(spark, sf_dir).withColumn(
        "ts_us", F.expr("window * 10000000")
    )
    out = cluster_log_text_lines(
        clog, statics={"timeout": 100, "version": "spark-dnp 1.0.0"}
    )
    return out.orderBy("window", "metric", "line")


@register(
    "sink_cluster_log_influx",
    oracle=None,
    doc="K2 cluster_summary points (reference include/sink/database.h:56-92): measurement cluster_summary, tag cluster_id, dynamic fields + outgoing<level> fields and their level!=1 total. Byte-exact oracle over the recursive clustering replay. streaming/sinks.py::cluster_log_influx_points.",
)
def sink_cluster_log_influx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sinks import cluster_log_influx_points

    clog = cluster_log(spark, sf_dir).withColumn(
        "ts_us", F.expr("window * 10000000")
    )
    out = cluster_log_influx_points(clog, statics={"timeout": 100, "version": "spark-dnp 1.0.0"})
    return out.orderBy("window")


# --------------------------------------------------------------------------
# A7/A8/A9 per-pair uptime bookkeeping (reference
# src/analysis/stationcoincidence.cpp:82-109 accumulates online==2 minutes
# per pair from reliability triggers; src/aggregation.cpp:154-176 sums
# uptime/sample_time in the offline merge).
# --------------------------------------------------------------------------

_UPTIME_ORACLE_BODY = """
  SELECT a.hash AS hash_lo, b.hash AS hash_hi,
         CAST(sum((least(a.t1, b.t1) - greatest(a.t0, b.t0)) // 60000000000) AS BIGINT) AS uptime
  FROM iv a JOIN iv b ON a.hash < b.hash AND a.t0 < b.t1 AND b.t0 < a.t1
  GROUP BY a.hash, b.hash
"""


# Reliability-friendly lifecycle framing for the uptime queries: the real
# 30-day cadence never clears the 90 s log timer (stations sit in
# missed-log states, zero reliable time — measured: 0 transitions at every
# SF), so uptime would be vacuously empty. Compressing the timeline 4x
# from µs-as-ns (span 43 min -> ~11 min, per-station event gap ~1.6 s,
# log gap ~8 s) with clean quality values gives every SF real reliable
# intervals (sf0.001: 19 overlapping pairs; sf0.01: 1361). div 4 is a
# power of two, so floor(us/4) is exact in both engines.
_UPTIME_FRAMING = dict(
    ts_ns="epoch_us(ts) // 4",
    ev_time_acc="event_id % 500",
    dop="1.0",
    h_acc="30.0 + (event_id % 100)",
)


def _uptime_oracle_ctes() -> str:
    return f"""
tr AS ({_lifecycle_oracle_sql(**_UPTIME_FRAMING)}),
iv AS (
  SELECT hash, t0, coalesce(t1, (SELECT max(ts) FROM tr)) AS t1 FROM (
    SELECT hash, status, ts AS t0,
           lead(ts) OVER (PARTITION BY hash ORDER BY ts, status) AS t1
    FROM tr
  ) WHERE status = 'reliable'
)"""


def _lifecycle_inputs(spark: SparkSession, sf_dir: str):
    """The station_lifecycle fixture framing (same as the registered
    station_lifecycle query) — shared by the uptime queries."""
    ev_us = _station_events_us(spark, sf_dir)
    events = ev_us.select(
        "hash",
        (F.col("start") * 1000).alias("start"),
        (F.col("end") * 1000).alias("end"),
        "time_acc",
        "ublox_counter",
        "fix",
    )
    logs = ev_us.filter(F.col("event_id") % 5 == 0).select(
        "hash",
        (F.col("start") * 1000).alias("ts"),
        (1.0 + (F.col("event_id") % 40) / 10.0).alias("dop"),
        (30.0 + (F.col("event_id") % 200)).alias("h_acc"),
        F.lit(40.0).alias("v_acc"),
    )
    return logs, events


def _pair_uptime_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.histogram import pair_uptime
    from ..operators.station import station_lifecycle

    # the _UPTIME_FRAMING timeline (see comment above): 4x-compressed
    # µs-as-ns with clean GNSS quality so reliable intervals exist
    ev = load_table(spark, sf_dir, "events")
    us = ts_to_us(ev)
    base = ev.select(
        F.col("user_id").alias("hash"),
        (us / 4).cast("long").alias("start"),  # div 4: exact (power of two)
        ((us / 4).cast("long") + F.col("event_id") % 400).alias("end"),
        (F.col("event_id") % 500).cast("long").alias("time_acc"),
        (F.col("event_id") % 65536).cast("long").alias("ublox_counter"),
        F.lit(1).cast("long").alias("fix"),
        "event_id",
    )
    events = base.drop("event_id")
    logs = base.filter(F.col("event_id") % 5 == 0).select(
        "hash",
        F.col("start").alias("ts"),
        F.lit(1.0).alias("dop"),
        (30.0 + F.col("event_id") % 100).alias("h_acc"),
        F.lit(40.0).alias("v_acc"),
    )
    # one replay, reused for the end-of-data scalar AND the interval build
    tr = station_lifecycle(logs, events).localCheckpoint(eager=True)
    end_ts = tr.agg(F.max("ts")).collect()[0][0]  # O(1) driver bytes
    return pair_uptime(tr, end_ts)


@register(
    "pair_uptime",
    oracle=f"""
WITH {_uptime_oracle_ctes()}
SELECT * FROM ({_UPTIME_ORACLE_BODY})
ORDER BY hash_lo, hash_hi
""",
    doc="A7 meta: per-pair uptime minutes from the station_lifecycle transition stream (reference src/analysis/stationcoincidence.cpp:82-109: time with BOTH stations reliable, minutes truncated per segment). Interval-overlap self-join on the station dimension — O(stations x flips), never data-sized. operators/histogram.py::pair_uptime, adjudicated against the recursive-CTE lifecycle oracle.",
)
def pair_uptime_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pair_uptime_df(spark, sf_dir).orderBy("hash_lo", "hash_hi")


@register(
    "histogram_merge_meta",
    oracle=f"""
WITH {_uptime_oracle_ctes()},
up AS ({_UPTIME_ORACLE_BODY}),
e AS ({_pair_tof_histogram_oracle("WHERE start % 2 = 0")}),
o AS ({_pair_tof_histogram_oracle("WHERE start % 2 = 1")}),
bins AS (
  SELECT hash_lo, hash_hi, min(distance) AS distance,
         CAST(min(bin_width) AS INTEGER) AS bin_width, bin, CAST(sum(n) AS BIGINT) AS n
  FROM (SELECT * FROM e UNION ALL SELECT * FROM o)
  GROUP BY hash_lo, hash_hi, bin
),
-- meta sums only over the saves that actually contain the pair
-- (src/aggregation.cpp:154-176 reads per-pair files; an absent file
-- contributes nothing)
presence AS (
  SELECT hash_lo, hash_hi, CAST(count(*) AS BIGINT) AS k FROM (
    SELECT DISTINCT hash_lo, hash_hi FROM e
    UNION ALL
    SELECT DISTINCT hash_lo, hash_hi FROM o
  ) GROUP BY hash_lo, hash_hi
)
SELECT b.hash_lo, b.hash_hi, b.distance, b.bin_width,
       CAST(p.k * coalesce(u.uptime, 0) AS BIGINT) AS uptime,
       CAST(p.k * 60 AS BIGINT) AS sample_time, b.bin, b.n
FROM bins b
JOIN presence p ON b.hash_lo = p.hash_lo AND b.hash_hi = p.hash_hi
LEFT JOIN up u ON b.hash_lo = u.hash_lo AND b.hash_hi = u.hash_hi
ORDER BY b.hash_lo, b.hash_hi, b.bin
""",
    doc="A8/A9 with meta end-to-end: two saved histogram tables carrying per-pair uptime + 60 min sample_time each (operators/histogram.py::with_pair_meta), merged by merge_histograms_meta — bin counts sum per (pair, bin); uptime/sample_time sum PER PAIR across saves exactly as the reference's aggregator does (src/aggregation.cpp:154-176), not per row.",
)
def histogram_merge_meta_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.histogram import merge_histograms_meta, with_pair_meta

    up = _pair_uptime_df(spark, sf_dir).localCheckpoint(eager=True)
    even = with_pair_meta(_pair_hist_df(spark, sf_dir, F.col("start") % 2 == 0), up, 60)
    odd = with_pair_meta(_pair_hist_df(spark, sf_dir, F.col("start") % 2 == 1), up, 60)
    return merge_histograms_meta(even, odd).orderBy("hash_lo", "hash_hi", "bin")


# --------------------------------------------------------------------------
# Spatial proximity self-join (§2.4 extension): "station pairs within D
# meters" — the geometry the reference holds as its station-pair matrix
# (src/analysis/stationcoincidence.cpp:224-240 sizes per-pair histograms
# from exactly this distance), expressed as a grid-bucketed equi-join.
# --------------------------------------------------------------------------

_SPATIAL_D_M = 20_000.0  # proximity threshold
# cell spans chosen >= D along both axes over the point field's lat range
# (46..50°: 0.2° lat = 22.2 km, 0.3° lon >= 21.4 km at lat 50) so the
# 9-cell neighborhood is COMPLETE for the threshold — no pair can span
# more than one cell step.
_CELL_LAT = 0.2
_CELL_LON = 0.3


def _spatial_points_sql() -> str:
    return """
  SELECT DISTINCT user_id AS hash,
         46.0 + (user_id * 7 % 400) / 100.0 AS lat,
         6.0 + (user_id * 13 % 600) / 100.0 AS lon,
         450.0 AS h
  FROM events"""


@register(
    "stations_within_range",
    oracle=f"""
WITH pts AS ({_spatial_points_sql()})
SELECT a.hash AS hash_a, b.hash AS hash_b,
       round(sqrt(({_ecef_sql('a.lat', 'a.lon', 'a.h')[0]} - {_ecef_sql('b.lat', 'b.lon', 'b.h')[0]}) * ({_ecef_sql('a.lat', 'a.lon', 'a.h')[0]} - {_ecef_sql('b.lat', 'b.lon', 'b.h')[0]})
                 + ({_ecef_sql('a.lat', 'a.lon', 'a.h')[1]} - {_ecef_sql('b.lat', 'b.lon', 'b.h')[1]}) * ({_ecef_sql('a.lat', 'a.lon', 'a.h')[1]} - {_ecef_sql('b.lat', 'b.lon', 'b.h')[1]})
                 + ({_ecef_sql('a.lat', 'a.lon', 'a.h')[2]} - {_ecef_sql('b.lat', 'b.lon', 'b.h')[2]}) * ({_ecef_sql('a.lat', 'a.lon', 'a.h')[2]} - {_ecef_sql('b.lat', 'b.lon', 'b.h')[2]})), 3) AS distance_m
FROM pts a JOIN pts b ON a.hash < b.hash
WHERE sqrt(({_ecef_sql('a.lat', 'a.lon', 'a.h')[0]} - {_ecef_sql('b.lat', 'b.lon', 'b.h')[0]}) * ({_ecef_sql('a.lat', 'a.lon', 'a.h')[0]} - {_ecef_sql('b.lat', 'b.lon', 'b.h')[0]})
           + ({_ecef_sql('a.lat', 'a.lon', 'a.h')[1]} - {_ecef_sql('b.lat', 'b.lon', 'b.h')[1]}) * ({_ecef_sql('a.lat', 'a.lon', 'a.h')[1]} - {_ecef_sql('b.lat', 'b.lon', 'b.h')[1]})
           + ({_ecef_sql('a.lat', 'a.lon', 'a.h')[2]} - {_ecef_sql('b.lat', 'b.lon', 'b.h')[2]}) * ({_ecef_sql('a.lat', 'a.lon', 'a.h')[2]} - {_ecef_sql('b.lat', 'b.lon', 'b.h')[2]})) <= {_SPATIAL_D_M!r}
ORDER BY hash_a, hash_b
""",
    doc=f"§2.4 spatial proximity self-join: all point pairs within {_SPATIAL_D_M / 1000:.0f} km (WGS84 ECEF chord distance), planned as a grid-cell equi-join — the probe side explodes into its 9-cell neighborhood (cell spans sized >= D on both axes, so the neighborhood is complete) and the exact distance rescoring touches only co-celled candidates. The oracle is the naive all-pairs theta join; the engine plan shuffles on cell keys and never forms the quadratic pair space. At 100 TB-scale point sets this is the standard spatial-bucketing shape (same family as the pivot-pruned cosine join).",
)
def stations_within_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.geodesy import straight_distance_col

    pts = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            F.col("user_id").alias("hash"),
            (46.0 + (F.col("user_id") * 7 % 400) / 100.0).alias("lat"),
            (6.0 + (F.col("user_id") * 13 % 600) / 100.0).alias("lon"),
            F.lit(450.0).alias("h"),
        )
        # dimension-sized (one row per station): materialize once so the
        # build and the 9-cell-exploded probe don't each rescan events
        .localCheckpoint(eager=True)
    )
    cx = F.floor(F.col("lon") / _CELL_LON).cast("long")
    cy = F.floor(F.col("lat") / _CELL_LAT).cast("long")
    left = pts.select(
        F.col("hash").alias("hash_a"), F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"), F.col("h").alias("h_a"),
        cx.alias("cx"), cy.alias("cy"),
    )
    # probe side: each point lands in its 9-cell neighborhood, so every
    # qualifying pair co-locates in EXACTLY one (cx, cy) bucket
    neighbor = F.explode(
        F.expr("transform(sequence(-1, 1), dx -> dx)")
    ).alias("dx")
    right = (
        pts.select(
            F.col("hash").alias("hash_b"), F.col("lat").alias("lat_b"),
            F.col("lon").alias("lon_b"), F.col("h").alias("h_b"),
            cx.alias("bx"), cy.alias("by"),
        )
        .select("*", neighbor)
        .select("*", F.explode(F.expr("transform(sequence(-1, 1), dy -> dy)")).alias("dy"))
        .select(
            "hash_b", "lat_b", "lon_b", "h_b",
            (F.col("bx") + F.col("dx")).alias("cx"),
            (F.col("by") + F.col("dy")).alias("cy"),
        )
    )
    dist = straight_distance_col(
        F.col("lat_a"), F.col("lon_a"), F.col("h_a"),
        F.col("lat_b"), F.col("lon_b"), F.col("h_b"),
    )
    return (
        left.join(right, ["cx", "cy"])
        .filter(F.col("hash_a") < F.col("hash_b"))
        .withColumn("distance_m", dist)
        .filter(F.col("distance_m") <= _SPATIAL_D_M)
        .select("hash_a", "hash_b", F.round("distance_m", 3).alias("distance_m"))
        .orderBy("hash_a", "hash_b")
    )


# --------------------------------------------------------------------------
# Station connectivity rank: weighted PageRank power iteration over the
# A8 coincidence-adjacency graph (pair_totals). The reference keeps this
# adjacency as its station-pair matrix; ranking it answers "which stations
# anchor the network" — and demonstrates the iterative-graph shape on the
# muon domain (per iteration: one edge join + one agg; rank state is
# station-dimension-sized). All arithmetic is integer fixed-point (1e12
# scale, floor division) so distributed summation order cannot perturb a
# single bit — the same order-free discipline as lm_quality/dsir.
# --------------------------------------------------------------------------

_PR_ITERS = 3
_PR_SCALE = 10**12
# 0.15 * _PR_SCALE: the undamped teleport mass in the 1e12 integer scale
_PR_BASE_MASS = (_PR_SCALE * 15) // 100


def _station_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetrized station coincidence-adjacency edge list (u, v, w)
    shared by every graph analytic here (pagerank/LPA, registered and
    converged variants) — one definition so the 'production' converged
    variants can never silently diverge from the oracle-pinned registered
    ones. Eagerly checkpointed: it is re-joined every iteration."""
    from ..operators.histogram import pair_totals

    pt = pair_totals(_pair_hist_df(spark, sf_dir)).localCheckpoint(eager=True)
    return pt.select(
        F.col("hash_lo").alias("u"), F.col("hash_hi").alias("v"), F.col("total").alias("w")
    ).unionByName(
        pt.select(
            F.col("hash_hi").alias("u"), F.col("hash_lo").alias("v"), F.col("total").alias("w")
        )
    ).localCheckpoint(eager=True)


def _pr_spread_sql(prev: str) -> str:
    # sum of per-edge floored contributions, then damping in exact ints
    return f"""
  SELECT e.v,
         CAST((SELECT 150000000000 // c FROM n)
              + (sum((p.r * e.w) // d.wsum) * 17) // 20 AS BIGINT) AS r
  FROM edges e JOIN {prev} p ON e.u = p.v JOIN deg d ON e.u = d.u
  GROUP BY e.v"""


@register(
    "station_pagerank",
    oracle=f"""
WITH pt AS (
  SELECT hash_lo, hash_hi, CAST(sum(n) AS BIGINT) AS total
  FROM ({_pair_tof_histogram_oracle()})
  GROUP BY hash_lo, hash_hi
),
edges AS (
  SELECT hash_lo AS u, hash_hi AS v, total AS w FROM pt
  UNION ALL
  SELECT hash_hi AS u, hash_lo AS v, total AS w FROM pt
),
deg AS (SELECT u, CAST(sum(w) AS BIGINT) AS wsum FROM edges GROUP BY u),
n AS (SELECT count(*) AS c FROM deg),
r0 AS (SELECT u AS v, CAST({_PR_SCALE} // (SELECT c FROM n) AS BIGINT) AS r FROM deg),
it1 AS ({_pr_spread_sql('r0')}),
it2 AS ({_pr_spread_sql('it1')}),
it3 AS ({_pr_spread_sql('it2')})
SELECT v AS hash, r AS rank12, round(r / 1000000.0 / 1000000.0, 6) AS rank
FROM it3
ORDER BY hash
""",
    doc=f"Weighted PageRank ({_PR_ITERS} power iterations, damping 0.85) over the station coincidence-adjacency graph (A8 pair totals) — the 'which stations anchor the network' analytic. Integer fixed-point at 1e12 scale with floored per-edge contributions: bit-exact under any summation order, hash-adjudicated. Per iteration one broadcast-sized edge join + one agg; state is O(stations). The same loop at 100 TB ranks a billion-node graph with rank/degree tables sharded by node id.",
)
def station_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _station_edges(spark, sf_dir)
    deg = edges.groupBy("u").agg(F.sum("w").cast("long").alias("wsum"))
    n = deg.count()  # O(1) driver scalar — station dimension
    base = _PR_BASE_MASS // n
    ranks = deg.select(F.col("u").alias("v"), F.lit(_PR_SCALE // n).cast("long").alias("r"))
    ew = edges.join(F.broadcast(deg), "u").localCheckpoint(eager=True)
    for _ in range(_PR_ITERS):
        ranks = (
            ew.join(F.broadcast(ranks.withColumnRenamed("v", "u")), "u")
            .select("v", F.expr("(r * w) div wsum").alias("contrib"))
            .groupBy("v")
            .agg(
                (F.lit(base) + F.expr("(sum(contrib) * 17) div 20")).cast("long").alias("r")
            )
        )
    return ranks.select(
        F.col("v").alias("hash"),
        F.col("r").alias("rank12"),
        F.round(F.col("r") / 1_000_000.0 / 1_000_000.0, 6).alias("rank"),
    ).orderBy("hash")


# --------------------------------------------------------------------------
# Community detection over the same coincidence adjacency: weighted
# synchronous label propagation, deterministic (max-weight, min-label
# tie-break), unrolled to a fixed iteration count so the oracle can replay
# it exactly.
# --------------------------------------------------------------------------

_LPA_ITERS = 3

# r12 negative result, measured and not shipped: replacing the per-iteration
# row_number() window pick with min(struct(-wt, lbl)) (or min_by(lbl,
# struct(-wt, lbl))) produces bit-identical labels and iteration counts,
# but Spark 4.1 plans ANY struct-ordered aggregate as SortAggregate —
# Sort + partial SortAggregate + Exchange + Sort + final SortAggregate —
# so the window's one sort becomes two and the interleaved sf0.1 A/B read
# parity-to-slightly-worse (OPTIMIZATION_r12.md). The window form stays.


def _lpa_step_sql(prev: str) -> str:
    return f"""
  SELECT v, lbl FROM (
    SELECT v, lbl, row_number() OVER (PARTITION BY v ORDER BY wt DESC, lbl) AS rn
    FROM (
      SELECT e.v AS v, p.lbl AS lbl, CAST(sum(e.w) AS BIGINT) AS wt
      FROM edges e JOIN {prev} p ON e.u = p.v
      GROUP BY e.v, p.lbl
    )
  ) WHERE rn = 1"""


@register(
    "station_communities",
    oracle=f"""
WITH pt AS (
  SELECT hash_lo, hash_hi, CAST(sum(n) AS BIGINT) AS total
  FROM ({_pair_tof_histogram_oracle()})
  GROUP BY hash_lo, hash_hi
),
edges AS (
  SELECT hash_lo AS u, hash_hi AS v, total AS w FROM pt
  UNION ALL
  SELECT hash_hi AS u, hash_lo AS v, total AS w FROM pt
),
lp0 AS (SELECT DISTINCT u AS v, u AS lbl FROM edges),
lp1 AS ({_lpa_step_sql('lp0')}),
lp2 AS ({_lpa_step_sql('lp1')}),
lp3 AS ({_lpa_step_sql('lp2')})
SELECT v AS hash, lbl AS community,
       CAST(count(*) OVER (PARTITION BY lbl) AS BIGINT) AS community_size
FROM lp3
ORDER BY hash
""",
    doc=f"Weighted label propagation ({_LPA_ITERS} synchronous iterations) over the station coincidence adjacency — which stations cluster into coincidence communities. Each node adopts the label carrying the max total edge weight among its neighbours (min label on ties), so every step is deterministic and the unrolled oracle replays it exactly. Scale shape: per iteration ONE broadcast label join (labels are O(stations)) + one (v,lbl) agg + a per-node window — the textbook distributed LPA; at 1e9 nodes labels shard by node id and the same plan holds.",
)
def station_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _station_edges(spark, sf_dir)
    labels = edges.select(F.col("u").alias("v")).distinct().withColumn("lbl", F.col("v"))
    w_pick = Window.partitionBy("v").orderBy(F.col("wt").desc(), F.col("lbl"))
    for _ in range(_LPA_ITERS):
        labels = (
            edges.join(
                F.broadcast(labels.select(F.col("v").alias("u"), "lbl")), "u"
            )
            .groupBy("v", "lbl")
            .agg(F.sum("w").cast("long").alias("wt"))
            .withColumn("rn", F.row_number().over(w_pick))
            .filter(F.col("rn") == 1)
            .select("v", "lbl")
        )
    w_size = Window.partitionBy("lbl")
    return (
        labels.withColumn("community_size", F.count(F.lit(1)).over(w_size).cast("long"))
        .select(
            F.col("v").alias("hash"),
            F.col("lbl").alias("community"),
            "community_size",
        )
        .orderBy("hash")
    )


# Production variants of the two iterative graph operators: iterate until a
# FIXPOINT instead of a fixed unroll count. The registered 3-iteration modes
# stay as the driver contract (their oracles replay the unroll exactly); a
# real deployment runs these — each iteration ends with one O(1)-row driver
# aggregate (labels-changed count / max rank delta), and per-iteration
# eager checkpoints keep the lineage flat, so the loop's cost is
# iterations x (one label join + one agg), never a growing plan.

# Iteration telemetry for the converged registrations: their wall time is
# iteration-bound, so round-over-round bench comparison needs the count to
# tell a plan regression from fixture/convergence drift (r8 verdict #6).
# The registered wrappers run the loop eagerly at plan-build time (each
# iteration's convergence aggregate is a driver action), so the count for
# the LAST build is available as soon as the query fn returns; bench.py
# copies it into BENCH_DETAIL's extended_meta.
CONVERGED_ITERATIONS: dict[str, int] = {}


def station_communities_converged(
    spark: SparkSession, sf_dir: str, max_iters: int = 20
) -> tuple[DataFrame, int]:
    """Weighted synchronous LPA iterated to convergence (no label changed).

    Returns (result DataFrame, iterations actually run). ``max_iters`` caps
    the loop: synchronous LPA can 2-cycle on bipartite-ish subgraphs, and a
    production job needs a bound regardless."""
    edges = _station_edges(spark, sf_dir)
    # Per-iteration EAGER CHECKPOINTS instead of the old persist + unpersist
    # + every-10th-iteration lineage cut (r12): with persist, iteration i's
    # logical plan nests i InMemoryRelations, and the per-iteration analysis
    # of that growing tree plus cache-manager bookkeeping cost more than the
    # checkpoint's extra materialization action — interleaved sf0.1 A/B on
    # the pagerank loop read persist 5.87-8.13 s vs checkpoint 4.40-5.32 s
    # (every checkpoint run faster than every persist run; bit-identical
    # ranks, same iteration count). The checkpoint also keeps every
    # iteration's plan FLAT, so analysis cost is constant in the iteration
    # number. Previous state is released deterministically via the tracked
    # JVM handles (_eager_ckpt_tracked) right after its last read.
    labels, lab_h = _eager_ckpt_tracked(
        edges.select(F.col("u").alias("v")).distinct().withColumn("lbl", F.col("v"))
    )
    w_pick = Window.partitionBy("v").orderBy(F.col("wt").desc(), F.col("lbl"))
    iters = 0
    for _ in range(max_iters):
        # the checkpoint call is the iteration's materialization action
        nxt, nxt_h = _eager_ckpt_tracked(
            edges.join(F.broadcast(labels.select(F.col("v").alias("u"), "lbl")), "u")
            .groupBy("v", "lbl")
            .agg(F.sum("w").cast("long").alias("wt"))
            .withColumn("rn", F.row_number().over(w_pick))
            .filter(F.col("rn") == 1)
            .select("v", "lbl")
        )
        iters += 1
        # O(1)-row convergence aggregate: count of nodes whose label moved —
        # a cheap second action over the two checkpointed label states.
        changed = (
            nxt.alias("n")
            .join(labels.alias("p"), "v")
            .filter(F.col("n.lbl") != F.col("p.lbl"))
            .count()
        )
        # the count above was the last read of the previous labels — free
        # their checkpoint storage, or a max_iters run holds every
        # iteration's O(nodes) state live at once
        _release_ckpts(lab_h)
        labels, lab_h = nxt, nxt_h
        if changed == 0:
            break
    w_size = Window.partitionBy("lbl")
    out = (
        labels.withColumn("community_size", F.count(F.lit(1)).over(w_size).cast("long"))
        .select(
            F.col("v").alias("hash"),
            F.col("lbl").alias("community"),
            "community_size",
        )
        .orderBy("hash")
    )
    return out, iters


def station_pagerank_converged(
    spark: SparkSession, sf_dir: str, max_iters: int = 50, tol12: int = 1_000_000
) -> tuple[DataFrame, int]:
    """Fixed-point PageRank iterated until max per-node rank delta (in the
    1e12 integer scale) drops to ``tol12`` (default 1e6 = 1e-6 rank units).

    Returns (result DataFrame, iterations actually run). Same bit-exact
    integer arithmetic as the registered 3-iteration mode."""
    edges = _station_edges(spark, sf_dir)
    deg = edges.groupBy("u").agg(F.sum("w").cast("long").alias("wsum"))
    n = deg.count()  # O(1) driver scalar — station dimension
    base = _PR_BASE_MASS // n
    # per-iteration eager checkpoints with tracked release — rationale and
    # the interleaved persist-vs-checkpoint A/B receipt in the LPA loop
    ranks, rank_h = _eager_ckpt_tracked(
        deg.select(F.col("u").alias("v"), F.lit(_PR_SCALE // n).cast("long").alias("r"))
    )
    ew = edges.join(F.broadcast(deg), "u").localCheckpoint(eager=True)
    iters = 0
    for _ in range(max_iters):
        # the checkpoint call is the iteration's materialization action
        nxt, nxt_h = _eager_ckpt_tracked(
            ew.join(F.broadcast(ranks.withColumnRenamed("v", "u")), "u")
            .select("v", F.expr("(r * w) div wsum").alias("contrib"))
            .groupBy("v")
            .agg(
                (F.lit(base) + F.expr("(sum(contrib) * 17) div 20")).cast("long").alias("r")
            )
        )
        iters += 1
        # O(1)-row convergence aggregate: max absolute rank movement —
        # a cheap second action over the two checkpointed rank states.
        delta = (
            nxt.alias("n")
            .join(ranks.alias("p"), "v")
            .agg(F.max(F.abs(F.col("n.r") - F.col("p.r"))).alias("d"))
            .collect()[0]["d"]
        )
        # the delta read above was the last use of the previous ranks —
        # free their checkpoint storage so only two iterations' state is
        # ever live
        _release_ckpts(rank_h)
        ranks, rank_h = nxt, nxt_h
        if delta is not None and delta <= tol12:
            break
    out = ranks.select(
        F.col("v").alias("hash"),
        F.col("r").alias("rank12"),
        F.round(F.col("r") / 1_000_000.0 / 1_000_000.0, 6).alias("rank"),
    ).orderBy("hash")
    return out, iters


# Driver-adjudicated registrations of the two converged variants: the code
# paths a real deployment runs (fixpoint/tolerance termination) get their
# own oracles. The oracles replay the LOOP INCLUDING ITS TERMINATION RULE
# as a DuckDB recursive CTE: each recursive row carries its previous-state
# value, so "no label changed" / "max rank delta <= tol" is evaluable from
# the working table alone, and the final SELECT reads the last iteration.
# Both sides are bit-exact integer/label arithmetic, so the fixpoint — and
# the iteration it is reached at — is identical by construction.

_LPA_CONV_MAX_ITERS = 20
_PR_CONV_MAX_ITERS = 50
_PR_CONV_TOL12 = 1_000_000

# AS MATERIALIZED is load-bearing: inside a WITH RECURSIVE, DuckDB inlines
# non-recursive CTEs referenced from the recursive term, which would
# re-evaluate the expensive pair-histogram subquery on EVERY iteration
# (measured: the sf0.1 oracle went from hours to the one-shot histogram
# cost once pinned).
_GRAPH_EDGE_CTES = f"""pt AS MATERIALIZED (
  SELECT hash_lo, hash_hi, CAST(sum(n) AS BIGINT) AS total
  FROM ({_pair_tof_histogram_oracle()})
  GROUP BY hash_lo, hash_hi
),
edges AS MATERIALIZED (
  SELECT hash_lo AS u, hash_hi AS v, total AS w FROM pt
  UNION ALL
  SELECT hash_hi AS u, hash_lo AS v, total AS w FROM pt
)"""


@register(
    "station_communities_converged",
    oracle=f"""
WITH RECURSIVE {_GRAPH_EDGE_CTES},
lp AS (
  SELECT 0 AS it, u AS v, u AS lbl, CAST(NULL AS BIGINT) AS prev_lbl
  FROM (SELECT DISTINCT u FROM edges)
  UNION ALL
  SELECT nxt.it, nxt.v, nxt.lbl, nxt.prev_lbl FROM (
    SELECT (SELECT max(it) FROM lp) + 1 AS it, x.v, x.lbl, p2.lbl AS prev_lbl
    FROM (
      SELECT v, lbl FROM (
        SELECT v, lbl, row_number() OVER (PARTITION BY v ORDER BY wt DESC, lbl) AS rn
        FROM (
          SELECT e.v AS v, p.lbl AS lbl, CAST(sum(e.w) AS BIGINT) AS wt
          FROM edges e JOIN lp p ON e.u = p.v
          GROUP BY e.v, p.lbl
        )
      ) WHERE rn = 1
    ) x JOIN lp p2 ON p2.v = x.v
  ) nxt
  WHERE nxt.it <= {_LPA_CONV_MAX_ITERS}
    AND ((SELECT max(it) FROM lp) = 0
         OR (SELECT count(*) FROM lp WHERE lbl != prev_lbl) > 0)
)
SELECT v AS hash, lbl AS community,
       CAST(count(*) OVER (PARTITION BY lbl) AS BIGINT) AS community_size
FROM lp WHERE it = (SELECT max(it) FROM lp)
ORDER BY hash
""",
    doc=f"The production LPA: weighted synchronous label propagation iterated to FIXPOINT (no label changed; safety cap {_LPA_CONV_MAX_ITERS}) instead of the registered 3-step unroll — per iteration one broadcast label join + one (v,lbl) agg + an O(1)-row changed-count driver aggregate, lineage truncated every 10 iterations. Oracle: a DuckDB recursive CTE that replays the loop INCLUDING its termination rule (each row carries prev_lbl, the recursive step fires only while the working iteration changed at least one label), so Spark and the oracle stop at the same iteration with bit-identical labels.",
)
def station_communities_converged_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, iters = station_communities_converged(
        spark, sf_dir, max_iters=_LPA_CONV_MAX_ITERS
    )
    CONVERGED_ITERATIONS["station_communities_converged"] = iters
    return out


@register(
    "station_pagerank_converged",
    oracle=f"""
WITH RECURSIVE {_GRAPH_EDGE_CTES},
deg AS MATERIALIZED (SELECT u, CAST(sum(w) AS BIGINT) AS wsum FROM edges GROUP BY u),
n AS MATERIALIZED (SELECT count(*) AS c FROM deg),
pr AS (
  SELECT 0 AS it, u AS v, CAST({_PR_SCALE} // (SELECT c FROM n) AS BIGINT) AS r,
         CAST(NULL AS BIGINT) AS prev_r
  FROM deg
  UNION ALL
  SELECT nxt.it, nxt.v, nxt.r, nxt.prev_r FROM (
    SELECT (SELECT max(it) FROM pr) + 1 AS it, s.v, s.r, p2.r AS prev_r
    FROM (
      SELECT e.v,
             CAST((SELECT {_PR_BASE_MASS} // c FROM n)
                  + (sum((p.r * e.w) // d.wsum) * 17) // 20 AS BIGINT) AS r
      FROM edges e JOIN pr p ON e.u = p.v JOIN deg d ON e.u = d.u
      GROUP BY e.v
    ) s JOIN pr p2 ON p2.v = s.v
  ) nxt
  WHERE nxt.it <= {_PR_CONV_MAX_ITERS}
    AND ((SELECT max(it) FROM pr) = 0
         OR (SELECT max(abs(r - prev_r)) FROM pr) > {_PR_CONV_TOL12})
)
SELECT v AS hash, r AS rank12, round(r / 1000000.0 / 1000000.0, 6) AS rank
FROM pr WHERE it = (SELECT max(it) FROM pr)
ORDER BY hash
""",
    doc=f"The production PageRank: fixed-point power iteration terminated when the max per-node rank delta (1e12 integer scale) drops to {_PR_CONV_TOL12} (= 1e-6 rank units; safety cap {_PR_CONV_MAX_ITERS}) — per iteration one broadcast rank join + one agg + an O(1)-row max-delta driver aggregate, lineage truncated every 10 iterations. Same bit-exact floored fixed-point arithmetic as the registered 3-step mode, so distributed summation order cannot move a single bit. Oracle: a DuckDB recursive CTE replaying the loop INCLUDING the tolerance termination (each row carries prev_r; the recursive step fires only while max|r - prev_r| exceeds the tolerance), so both engines stop at the same iteration with identical ranks.",
)
def station_pagerank_converged_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, iters = station_pagerank_converged(
        spark, sf_dir, max_iters=_PR_CONV_MAX_ITERS, tol12=_PR_CONV_TOL12
    )
    CONVERGED_ITERATIONS["station_pagerank_converged"] = iters
    return out


# --------------------------------------------------------------------------
# Triangle counting over the coincidence adjacency — the standard graph
# cohesion statistic (a station in many triangles sits in a densely
# cross-correlated cluster, not just a hub).
# --------------------------------------------------------------------------


@register(
    "station_triangles",
    oracle=f"""
WITH pt AS (
  SELECT hash_lo, hash_hi FROM ({_pair_tof_histogram_oracle()})
  GROUP BY hash_lo, hash_hi
),
e AS (SELECT hash_lo AS u, hash_hi AS v FROM pt),
tri AS (
  SELECT a.u, a.v, b.v AS w
  FROM e a JOIN e b ON a.v = b.u JOIN e c ON c.u = a.u AND c.v = b.v
),
nodes AS (
  SELECT u AS hash FROM tri UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri
)
SELECT hash, CAST(count(*) AS BIGINT) AS n_triangles
FROM nodes GROUP BY hash ORDER BY hash
""",
    doc="Per-station triangle participation over the coincidence pair adjacency: the canonical two-join triangle enumeration on id-ordered edges (u<v<w makes each triangle appear exactly once, no orientation dedup needed). The edge list is the O(station-pairs) dimension, so both joins broadcast at this graph's scale; on a billion-edge graph the same plan becomes the degree-ordered sort-merge triangle join — the distributed-systems textbook shape this operator is expressed in.",
)
def station_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.histogram import pair_totals

    e = (
        pair_totals(_pair_hist_df(spark, sf_dir))
        .select(F.col("hash_lo").alias("u"), F.col("hash_hi").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    tri = (
        e.alias("a")
        .join(e.alias("b"), F.col("a.v") == F.col("b.u"))
        .join(
            e.alias("c"),
            (F.col("c.u") == F.col("a.u")) & (F.col("c.v") == F.col("b.v")),
            "left_semi",
        )
        .select(F.col("a.u").alias("u"), F.col("a.v").alias("v"), F.col("b.v").alias("w"))
    )
    return (
        tri.select(F.explode(F.array("u", "v", "w")).alias("hash"))
        .groupBy("hash")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        .orderBy("hash")
    )


# --------------------------------------------------------------------------
# Byte-exact oracles for the cluster_log sink formatters — built on the
# same recursive clustering replay (groups CTE) as the cluster_log oracle,
# so the LAST two rows-only queries become value-hash adjudicable.
# --------------------------------------------------------------------------

_SINK_CLOG_CTES = """,
cwins AS (SELECT g_start // 10000000000 AS w, n, true_e FROM groups),
cws AS (
  SELECT w, CAST(sum(n) AS BIGINT) AS single_in,
         CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS l1_out,
         CAST(max(n) AS INTEGER) AS max_n,
         round(avg(CASE WHEN n >= 2 THEN true_e / (n * (n - 1) / 2) END), 6) AS mean_plausibility,
         strftime(make_timestamp(w * 10000000), '%Y-%m-%d_%H-%M-%S') AS t
  FROM cwins GROUP BY w
),
ccnt AS (
  SELECT w, CAST(n AS INTEGER) AS n, CAST(count(*) AS BIGINT) AS cnt,
         strftime(make_timestamp(w * 10000000), '%Y-%m-%d_%H-%M-%S') AS t
  FROM cwins GROUP BY w, n
)"""

_SINK_CLOG_LINES_SELECT = _SINK_CLOG_CTES + """
SELECT w AS "window", metric, line FROM (
  SELECT w, 'timeout' AS metric, t || ' timeout 100' AS line FROM cws
  UNION ALL SELECT w, 'version', t || ' version spark-dnp 1.0.0' FROM cws
  UNION ALL SELECT w, 'frequency_in', t || ' frequency_in ' || printf('%.6f', round(single_in / 10.0, 6)) FROM cws
  UNION ALL SELECT w, 'frequency_l1_out', t || ' frequency_l1_out ' || printf('%.6f', round(l1_out / 10.0, 6)) FROM cws
  UNION ALL SELECT w, 'max_coincidences', t || ' max_coincidences ' || printf('%d', max_n) FROM cws
  UNION ALL SELECT w, 'plausibility_level', t || ' plausibility_level ' || printf('%.6f', coalesce(mean_plausibility, 0.0)) FROM cws
  UNION ALL SELECT w, 'incoming', t || ' incoming ' || printf('%d', single_in) FROM cws
  UNION ALL SELECT w, 'outgoing_' || n, t || ' outgoing_' || n || ' ' || printf('%d', cnt) FROM ccnt WHERE n != 1
)
ORDER BY "window", metric, line
"""

_SINK_CLOG_INFLUX_SELECT = _SINK_CLOG_CTES + """
SELECT cws.w AS "window",
  'cluster_summary,cluster_id=cluster ' ||
  'timeout=100i,version="spark-dnp 1.0.0",' ||
  'frequency_in=' || printf('%.6f', round(single_in / 10.0, 6)) ||
  ',frequency_l1_out=' || printf('%.6f', round(l1_out / 10.0, 6)) ||
  ',max_multiplicity=' || printf('%d', max_n) || 'i' ||
  ',plausibility_level=' || printf('%.6f', coalesce(mean_plausibility, 0.0)) ||
  ',incoming=' || printf('%d', single_in) || 'i' ||
  coalesce(',' || og.fields, '') ||
  ',outgoing=' || printf('%d', coalesce(og.total, 0)) || 'i' ||
  ' ' || printf('%d', cws.w * 10000000 * 1000) AS point
FROM cws LEFT JOIN (
  SELECT w, string_agg('outgoing' || n || '=' || printf('%d', cnt) || 'i', ',' ORDER BY n) AS fields,
         CAST(sum(cnt) AS BIGINT) AS total
  FROM ccnt WHERE n != 1 GROUP BY w
) og ON cws.w = og.w
ORDER BY "window"
"""


def _finalize_sink_clog_oracles() -> None:
    from dataclasses import replace

    from . import REGISTRY

    ungated = _l1_groups_cte(gated=False)
    for name, select in (
        ("sink_cluster_log_lines", _SINK_CLOG_LINES_SELECT),
        ("sink_cluster_log_influx", _SINK_CLOG_INFLUX_SELECT),
    ):
        REGISTRY[name] = replace(REGISTRY[name], oracle=ungated + select)


_finalize_sink_clog_oracles()


@register(
    "pair_rate_histogram",
    oracle=f"""
WITH {_uptime_oracle_ctes()},
up AS ({_UPTIME_ORACLE_BODY}),
e AS ({_pair_tof_histogram_oracle("WHERE start % 2 = 0")}),
o AS ({_pair_tof_histogram_oracle("WHERE start % 2 = 1")}),
bins AS (
  SELECT hash_lo, hash_hi, min(distance) AS distance,
         CAST(min(bin_width) AS INTEGER) AS bin_width, bin, CAST(sum(n) AS BIGINT) AS n
  FROM (SELECT * FROM e UNION ALL SELECT * FROM o)
  GROUP BY hash_lo, hash_hi, bin
),
presence AS (
  SELECT hash_lo, hash_hi, CAST(count(*) AS BIGINT) AS k FROM (
    SELECT DISTINCT hash_lo, hash_hi FROM e
    UNION ALL
    SELECT DISTINCT hash_lo, hash_hi FROM o
  ) GROUP BY hash_lo, hash_hi
)
SELECT b.hash_lo, b.hash_hi, b.bin, b.n,
       CAST(p.k * coalesce(u.uptime, 0) AS BIGINT) AS uptime,
       round(b.n * 1.0 / (p.k * u.uptime), 6) AS rate_per_min
FROM bins b
JOIN presence p ON b.hash_lo = p.hash_lo AND b.hash_hi = p.hash_hi
JOIN up u ON b.hash_lo = u.hash_lo AND b.hash_hi = u.hash_hi
WHERE u.uptime > 0
ORDER BY b.hash_lo, b.hash_hi, b.bin
""",
    doc="Uptime-normalized pair histograms — the downstream normalization the reference's .meta bookkeeping exists FOR (src/aggregation.cpp:154-176 sums uptime so merged counts can become rates): per-bin coincidence rate per minute of both-stations-reliable time, over the merged parity-split saves. Pairs with zero accumulated uptime are excluded (rate undefined).",
)
def pair_rate_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.histogram import merge_histograms_meta, with_pair_meta

    up = _pair_uptime_df(spark, sf_dir).localCheckpoint(eager=True)
    even = with_pair_meta(_pair_hist_df(spark, sf_dir, F.col("start") % 2 == 0), up, 60)
    odd = with_pair_meta(_pair_hist_df(spark, sf_dir, F.col("start") % 2 == 1), up, 60)
    merged = merge_histograms_meta(even, odd)
    return (
        merged.filter(F.col("uptime") > 0)
        .select(
            "hash_lo",
            "hash_hi",
            "bin",
            "n",
            "uptime",
            F.round(F.col("n") * 1.0 / F.col("uptime"), 6).alias("rate_per_min"),
        )
        .orderBy("hash_lo", "hash_hi", "bin")
    )
