"""Physics / engine constants mirroring the reference's semantics.

Values derived from the reference's observable behavior (cited per SURVEY.md):
- speed of light + max coincidence distance: reference
  include/analysis/coincidence.h:25-27
- criterion thresholds: include/analysis/criterion.h:49-50
- simple coincidence window: include/analysis/simplecoincidence.h:27
- station quality constants: src/analysis/detectorstation.cpp:13-16
- lifecycle timers: include/analysis/detectorstation.h:123-125
- group timeout clamps: include/messages/event.h:16-17
"""

# Speed of light, expressed in meters per nanosecond (time base = ns).
C_M_PER_NS = 0.299792458

# Maximum distance between two stations for a coincidence to be physical
# (reference: 62.31836734693877 km).
MAX_DISTANCE_M = 62318.36734693877

# Hard time cutoff for any coincidence edge: |dt| > MAX_TIME_NS => score -1.
# ~207.9 microseconds.
MAX_TIME_NS = MAX_DISTANCE_M / C_M_PER_NS

# Floor on the time-of-flight used for scoring (150 ns).
MIN_TOF_NS = 150.0

# criterion::apply verdict thresholds on the mean pairwise score.
MEAN_FALSE_THRESHOLD = -0.3  # mean < -0.3 => Invalid
MEAN_TRUE_THRESHOLD = 0.5  # mean > 0.5 and all pairs positive => Valid

# simple_coincidence: pure time-window criterion (100 us).
SIMPLE_WINDOW_NS = 100_000

# Station quality gate: max GNSS timing error for a usable event (1 us) and
# the "extreme" level that flags the station unreliable (100 us).
MAX_TIMING_ERROR_NS = 1000.0
EXTREME_TIMING_ERROR_NS = MAX_TIMING_ERROR_NS * 100.0

# Max allowable location error: c * 1 us = 299.792458 m.
MAX_LOCATION_ERROR_M = MAX_TIMING_ERROR_NS * C_M_PER_NS

# Reliability hysteresis band (+-15%) and rate-stability divisor.
HYSTERESIS = 0.15
STDDEV_FACTOR = 0.75

# Station rate interval: rates are counted per 30 s interval (libmuonpi
# rate_measurement, 10 intervals x 30 s; src/analysis/detectorstation.cpp:127-135).
RATE_INTERVAL_NS = 30 * 10**9

# Station lifecycle processing-time timers (seconds).
LOG_INTERVAL_S = 90
OFFLINE_INTERVAL_S = 270
QUIT_INTERVAL_S = 48 * 3600

# WGS84 ellipsoid (public constants) for geodetic -> ECEF conversion.
WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
WGS84_E2 = WGS84_F * (2.0 - WGS84_F)
