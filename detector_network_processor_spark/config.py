"""Engine configuration surface (reference src/configuration.cpp:30-58,
config/config.h:28-74, config/detector-network-processor.cfg).

The reference parses a ``key = value`` config file (boost program_options
format) with CLI overrides; this module mirrors that surface as a frozen
dataclass with three constructors:

- ``EngineConfig()`` — the reference's defaults (config.h Default:: block:
  clusterlog 60 s, detectorsummary 120 s, histogram_sample_time 24 h,
  geohash length 6);
- ``EngineConfig.from_file(path)`` — same ``key = value`` file format the
  reference ships (``#`` comments, blank lines, unknown keys ignored so a
  reference config file parses as-is);
- ``EngineConfig.from_env(prefix="DNP_")`` — every key overridable via
  ``DNP_<UPPERCASE_KEY>`` for container deployments.

The fields are exactly the reference's keys; no Spark-side knob joins
them. ``python_stage_partitions`` names the one Spark-side sizing
decision, the width of CPU-bound Python stages (Arrow kernels behind
repartition barriers), and fixes it at ``sparkContext.defaultParallelism``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, fields, replace

from pyspark.sql import SparkSession


@dataclass(frozen=True)
class EngineConfig:
    # identity / topics (configuration.cpp:30-33)
    station_id: str = "muondetector_cluster"  # config.h Default::meta
    source_mqtt_base_path: str = "muonpi/"
    sink_mqtt_base_path: str = "muonpi/"
    # transports (configuration.cpp:34-48; credentials omitted — secrets
    # belong in the environment/secret store, not an engine dataclass)
    source_mqtt_host: str = ""
    source_mqtt_port: int = 1883
    sink_mqtt_host: str = ""
    sink_mqtt_port: int = 1883
    influx_host: str = ""
    influx_database: str = ""
    # histograms (configuration.cpp:53-55; config.h Default::interval)
    store_histogram: bool = False
    histogram: str = "data"
    histogram_sample_time_h: int = 24
    # message cadence / geometry (configuration.cpp:56-58)
    geohash_length: int = 6
    clusterlog_interval_s: int = 60
    detectorsummary_interval_s: int = 120

    # -- constructors -----------------------------------------------------

    @classmethod
    def from_file(cls, path: str) -> "EngineConfig":
        """Parse the reference's ``key = value`` config-file format
        (boost program_options: ``#`` comments, blank lines; unknown keys
        ignored so the reference's shipped .cfg parses unchanged)."""
        raw: dict[str, str] = {}
        with open(path, "r", encoding="utf-8") as f:
            for line in f:
                line = line.split("#", 1)[0].strip()
                if not line or "=" not in line:
                    continue
                key, _, val = line.partition("=")
                raw[key.strip()] = val.strip()
        return cls()._apply(raw)

    @classmethod
    def from_env(cls, prefix: str = "DNP_") -> "EngineConfig":
        raw = {
            f.name: os.environ[prefix + f.name.upper()]
            for f in fields(cls)
            if prefix + f.name.upper() in os.environ
        }
        return cls()._apply(raw)

    def _apply(self, raw: dict[str, str]) -> "EngineConfig":
        # map the reference's file keys onto dataclass fields where the
        # names differ (interval units are explicit in the field names)
        aliases = {
            "histogram_sample_time": "histogram_sample_time_h",
            "clusterlog_interval": "clusterlog_interval_s",
            "detectorsummary_interval": "detectorsummary_interval_s",
        }
        # the reference's *_interval file keys are in minutes
        # (configuration.cpp:57-58); convert to the seconds fields
        minute_keys = {"clusterlog_interval", "detectorsummary_interval"}
        by_name = {f.name: f for f in fields(self)}
        updates: dict = {}
        for key, val in raw.items():
            name = aliases.get(key, key)
            f = by_name.get(name)
            if f is None or val == "":
                continue
            if f.type == "int":
                iv = int(val)
                if key in minute_keys:
                    iv *= 60
                updates[name] = iv
            elif f.type == "bool":
                updates[name] = val.lower() in ("1", "true", "yes", "on")
            else:
                updates[name] = val
        return replace(self, **updates)


def python_stage_partitions(spark: SparkSession) -> int:
    """The single sizing point for pinned CPU-bound Python stages
    (coincidence kernel, lifecycle replay, curation Arrow passes):
    ``defaultParallelism``, one task per core. The pinned repartition
    exists to stop AQE coalescing these stages by shuffle BYTES (they are
    CPU-bound, not IO-bound)."""
    return spark.sparkContext.defaultParallelism
