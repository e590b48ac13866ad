"""EngineConfig surface (reference src/configuration.cpp:30-58,
config/config.h Default:: block) and the package's whole option surface."""

from __future__ import annotations

import ast
import dataclasses
import pathlib
import re

import pyspark.sql.functions as F

import detector_network_processor_spark
from detector_network_processor_spark.config import (
    EngineConfig,
    python_stage_partitions,
)

PACKAGE_DIR = pathlib.Path(detector_network_processor_spark.__file__).parent


def test_defaults_match_reference():
    cfg = EngineConfig()
    # config.h:70-72 Default::interval {60 s, 120 s, 24 h}, Default::meta
    assert cfg.clusterlog_interval_s == 60
    assert cfg.detectorsummary_interval_s == 120
    assert cfg.histogram_sample_time_h == 24
    assert cfg.geohash_length == 6
    assert cfg.station_id == "muondetector_cluster"


def test_from_file_parses_reference_format(tmp_path):
    p = tmp_path / "dnp.cfg"
    p.write_text(
        "# comment line\n"
        "station_id = processor\n"
        "source_mqtt_host = broker.example  # trailing comment\n"
        "source_mqtt_port = 8883\n"
        "detectorsummary_interval = 5\n"  # minutes, configuration.cpp:58
        "clusterlog_interval = 2\n"
        "histogram_sample_time = 12\n"  # hours, configuration.cpp:55
        "store_histogram = true\n"
        "unknown_key = ignored\n"
        "source_mqtt_user =\n"  # empty value -> keep default
    )
    cfg = EngineConfig.from_file(str(p))
    assert cfg.station_id == "processor"
    assert cfg.source_mqtt_host == "broker.example"
    assert cfg.source_mqtt_port == 8883
    assert cfg.detectorsummary_interval_s == 300  # 5 min -> seconds
    assert cfg.clusterlog_interval_s == 120
    assert cfg.histogram_sample_time_h == 12
    assert cfg.store_histogram is True
    assert cfg.geohash_length == 6  # untouched default


def test_from_env_overrides(monkeypatch):
    monkeypatch.setenv("DNP_STATION_ID", "envstation")
    monkeypatch.setenv("DNP_GEOHASH_LENGTH", "8")
    cfg = EngineConfig.from_env()
    assert cfg.station_id == "envstation"
    assert cfg.geohash_length == 8


def test_python_stage_partitions_is_default_parallelism(spark):
    assert python_stage_partitions(spark) == spark.sparkContext.defaultParallelism


def _is_os_attr(node: ast.AST, attr: str) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == attr
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_keys_read(tree: ast.AST) -> set[str]:
    """String-literal keys of os.environ.get(...), os.environ[...] and
    os.getenv(...) in one module."""
    keys = set()
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.Call) and node.args:
            f = node.func
            if _is_os_attr(f, "getenv") or (
                isinstance(f, ast.Attribute) and f.attr == "get" and _is_os_attr(f.value, "environ")
            ):
                key = node.args[0]
        elif isinstance(node, ast.Subscript) and _is_os_attr(node.value, "environ"):
            key = node.slice
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            keys.add(key.value)
    return keys


def test_option_surface_is_pinned():
    """Every setting the package reads is listed here: a new environment
    variable, engine conf key or config field needs an edit to this test."""
    env_keys = set()
    engine_confs = []
    for path in sorted(PACKAGE_DIR.rglob("*.py")):
        src = path.read_text(encoding="utf-8")
        env_keys |= _env_keys_read(ast.parse(src, filename=str(path)))
        engine_confs += [
            f"{path.name}: {m}" for m in re.findall(r"spark\.(?:engine|dnp)\.[A-Za-z0-9_.]*", src)
        ]
    assert env_keys == {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SPARK_GRAFT_SF_DIR"}
    assert engine_confs == []
    # the reference's config-file keys (configuration.cpp:30-58), with the
    # interval keys' units in the field names; credentials are left out
    assert {f.name for f in dataclasses.fields(EngineConfig)} == {
        "station_id",
        "source_mqtt_base_path",
        "sink_mqtt_base_path",
        "source_mqtt_host",
        "source_mqtt_port",
        "sink_mqtt_host",
        "sink_mqtt_port",
        "influx_host",
        "influx_database",
        "store_histogram",
        "histogram",
        "histogram_sample_time_h",
        "geohash_length",
        "clusterlog_interval_s",
        "detectorsummary_interval_s",
    }


def test_entry_point_parameters_are_pinned():
    """The coincidence entry points' parameters: a new knob on any of them
    needs an edit to this test."""
    import inspect

    from detector_network_processor_spark.operators.coincidence import cluster_coincidences
    from detector_network_processor_spark.streaming.coincidence import (
        stream_cluster_coincidences,
    )
    from detector_network_processor_spark.streaming.incremental import (
        flush_incremental_state,
        incremental_cluster_query,
        process_increment,
    )
    from detector_network_processor_spark.streaming.pipeline import stream_main_path

    def params(fn):
        return list(inspect.signature(fn).parameters)

    assert params(cluster_coincidences) == ["events", "stations", "criterion"]
    assert params(stream_cluster_coincidences) == ["events", "criterion", "watermark_ns"]
    assert params(stream_main_path) == ["lines", "stations", "criterion", "watermark_ns"]
    assert params(process_increment) == [
        "spark", "batch", "state_path", "out_path", "batch_id", "criterion", "final",
    ]
    assert params(incremental_cluster_query) == [
        "events", "out_path", "state_path", "checkpoint_dir", "criterion",
    ]
    assert params(flush_incremental_state) == ["spark", "state_path", "out_path", "criterion"]


def test_ingest_entry_point_parameters_are_pinned():
    """The near-dup ingest chain and the line parser take no column names
    or tuning values beyond the ones a caller sets: a new knob on any of
    them needs an edit to this test."""
    import inspect

    from detector_network_processor_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )
    from detector_network_processor_spark.sources.lines import parse_events
    from detector_network_processor_spark.streaming.dedup import (
        collision_pairs,
        incremental_neardup_query,
        process_neardup_increment,
        read_band_index,
    )
    from detector_network_processor_spark.streaming.pipeline import stream_monitoring_path

    def params(fn):
        return list(inspect.signature(fn).parameters)

    assert params(incremental_neardup_query) == [
        "docs", "index_path", "out_path", "checkpoint_dir", "threshold",
    ]
    assert params(process_neardup_increment) == [
        "spark", "batch_docs", "index_path", "out_path", "batch_id", "threshold", "portable",
    ]
    assert params(read_band_index) == ["spark", "index_path", "before_batch"]
    assert params(collision_pairs) == ["new_bands", "hist_bands", "threshold"]
    assert params(minhash_signatures) == ["docs", "portable"]
    assert params(minhash_lsh_pairs) == ["signatures", "portable", "min_est"]
    assert params(parse_events) == ["df"]
    assert params(stream_monitoring_path) == ["lines", "stations", "interval_ns", "output"]


def test_interval_changes_detector_summary(spark):
    """A non-default detectorsummary interval must change the windowing of
    detector_summaries (the verdict's wiring criterion)."""
    from detector_network_processor_spark.operators.station import detector_summaries

    NS = 10**9
    rows = [(1, t * 30 * NS, t * 30 * NS + 1000, 500, t) for t in range(16)]
    ev = spark.createDataFrame(
        rows, "hash long, start long, end long, time_acc long, ublox_counter long"
    )
    default_wins = detector_summaries(ev).select("win").distinct().count()
    fast = EngineConfig.from_file("/dev/null")  # defaults
    assert detector_summaries(ev, cfg=fast).select("win").distinct().count() == default_wins
    slow = EngineConfig(detectorsummary_interval_s=240)
    slow_wins = detector_summaries(ev, cfg=slow).select("win").distinct().count()
    assert slow_wins < default_wins


def test_from_file_parses_reference_shipped_cfg():
    """The reference's actual shipped config file must parse unchanged
    (configuration.cpp consumes the same file via boost program_options)."""
    import os

    import pytest

    path = "/root/reference/config/detector-network-processor.cfg"
    if not os.path.exists(path):
        pytest.skip("reference checkout not present")
    cfg = EngineConfig.from_file(path)
    assert cfg.station_id == "processor"
    assert cfg.source_mqtt_host == "muonpi.org"
    assert cfg.source_mqtt_port == 1883
    # commented-out keys keep defaults
    assert cfg.sink_mqtt_base_path == "muonpi/"
