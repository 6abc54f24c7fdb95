"""TimescaleDB device/weather bench suites — the reference's
crux-bench/src/crux/bench/ts_devices.clj and ts_weather.clj, re-expressed
Spark-first.

The reference's suites ingest the TimescaleDB sample CSVs
(devices_small / weather_small) into the node with valid-time = reading
time, then run a named query set; its history-rollup steps
(min-max-battery-level-per-hour, ts_devices.clj:188-255;
hourly-average-min-max-temperatures, ts_weather.clj:245-346) stream every
entity's history through a DRIVER-side merge sort — their noted weak
spot. Here ingest is the distributed bulk_ingest path (one put-version
per reading, valid-from = reading time, no driver collect) and the
history rollups are history_scan DataFrames grouped by hour — the whole
rollup is one shuffle, which is the posture that survives a 100 TB
store.

The sample tarballs are not distributable in this environment, so the
CSVs are generated deterministically with the datasets' schemas (same
columns, same entity-id shapes: one ``reading/<device>`` entity per
device overwritten per timestamp, namespaced attributes like
``:reading/battery-level``). Every query step asserts its result
against an independent relational oracle computed from the raw CSV
frame (latest-per-device window for snapshot queries, plain group-by
over all rows for history rollups), so the suite is a correctness gate
as well as a timing.

Usage: python tools/ts_bench.py            (standalone, prints JSON)
       run_ts_suites(spark, tmpdir)        (from Python)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

BASE_TS = "2016-11-15 07:00:00"


# --------------------------------------------------------------- generators


def gen_devices_csvs(spark, outdir: str, n_devices: int, n_times: int,
                     step_s: int) -> None:
    """devices_small schema (ts_devices.clj:16-60): device_info
    (device_id, api_version, manufacturer, model, os_name) + readings
    (time, device_id, battery_level, battery_status,
    battery_temperature, bssid, cpu_avg_1min/5min/15min, mem_free,
    mem_used, rssi, ssid). All columns deterministic in (device, t)."""
    info = spark.range(n_devices).select(
        F.format_string("demo%06d", "id").alias("device_id"),
        F.lit("19").alias("api_version"),
        F.element_at(
            F.array(F.lit("iobeam"), F.lit("timescale")),
            (F.col("id") % 2 + 1).cast("int"),
        ).alias("manufacturer"),
        F.element_at(
            F.array(F.lit("pinto"), F.lit("focus"), F.lit("mustang")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("model"),
        F.lit("6.0.1").alias("os_name"),
    )
    info.coalesce(1).write.mode("overwrite").option("header", "true").csv(
        os.path.join(outdir, "device_info")
    )
    readings = (
        spark.range(n_devices)
        .select(F.col("id").alias("d"))
        .select("d", F.explode(F.sequence(F.lit(0), F.lit(n_times - 1))).alias("t"))
        .select(
            F.date_format(
                F.to_timestamp(F.lit(BASE_TS))
                + F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), F.col("t") * step_s),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("time"),
            F.format_string("demo%06d", "d").alias("device_id"),
            ((F.col("d") * 7 + F.col("t") * 13) % 101).cast("double").alias("battery_level"),
            F.when((F.col("d") + F.col("t")) % 2 == 0, "charging")
            .otherwise("discharging")
            .alias("battery_status"),
            (F.lit(80.0) + (F.col("d") + F.col("t") * 3) % 25).alias("battery_temperature"),
            F.format_string("01:02:03:04:%02d:%02d", (F.col("d") % 100).cast("int"), (F.col("t") % 100).cast("int")).alias("bssid"),
            (((F.col("d") * 31 + F.col("t") * 17) % 10000) / 100.0).alias("cpu_avg_1min"),
            (((F.col("d") * 13 + F.col("t") * 7) % 10000) / 100.0).alias("cpu_avg_5min"),
            (((F.col("d") * 3 + F.col("t") * 11) % 10000) / 100.0).alias("cpu_avg_15min"),
            ((F.col("d") * 1000 + F.col("t")) % 1000000).cast("double").alias("mem_free"),
            ((F.col("d") * 999 + F.col("t") * 2) % 1000000).cast("double").alias("mem_used"),
            (-(F.lit(40.0) + (F.col("d") + F.col("t")) % 60)).alias("rssi"),
            F.format_string("demo-net-%d", (F.col("d") % 10).cast("int")).alias("ssid"),
        )
    )
    readings.write.mode("overwrite").option("header", "true").csv(
        os.path.join(outdir, "readings")
    )


def gen_weather_csvs(spark, outdir: str, n_locations: int, n_times: int,
                     step_s: int) -> None:
    """weather_small schema (ts_weather.clj:26-48): locations
    (device_id, location, environment) + conditions (time, device_id,
    temperature, humidity)."""
    locs = spark.range(n_locations).select(
        F.format_string("weather-pro-%06d", "id").alias("device_id"),
        F.concat(
            F.element_at(
                F.array(F.lit("field"), F.lit("swamp"), F.lit("arctic")),
                (F.col("id") % 3 + 1).cast("int"),
            ),
            F.format_string("-%06d", (F.col("id") / 3).cast("long")),
        ).alias("location"),
        F.when(F.col("id") % 2 == 0, "outside").otherwise("inside").alias("environment"),
    )
    locs.coalesce(1).write.mode("overwrite").option("header", "true").csv(
        os.path.join(outdir, "locations")
    )
    conditions = (
        spark.range(n_locations)
        .select(F.col("id").alias("l"))
        .select("l", F.explode(F.sequence(F.lit(0), F.lit(n_times - 1))).alias("t"))
        .select(
            F.date_format(
                F.to_timestamp(F.lit(BASE_TS))
                + F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), F.col("t") * step_s),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("time"),
            F.format_string("weather-pro-%06d", "l").alias("device_id"),
            (F.lit(40.0) + (F.col("l") * 3 + F.col("t")) % 50).alias("temperature"),
            (F.lit(30.0) + (F.col("l") * 5 + F.col("t") * 2) % 60).alias("humidity"),
        )
    )
    conditions.write.mode("overwrite").option("header", "true").csv(
        os.path.join(outdir, "conditions")
    )


# --------------------------------------------------------------- suites


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _timed_rows(df):
    """(rows, seconds): min-of-2 wall — one contended sample shouldn't
    misprice a sub-second query."""
    t0 = time.perf_counter()
    rows = _rows(df)
    dt = time.perf_counter() - t0
    t1 = time.perf_counter()
    df.collect()
    return rows, min(dt, time.perf_counter() - t1)


_DEVICES_SCHEMA = T.StructType(
    [T.StructField("device-info/api-version", T.StringType()),
     T.StructField("device-info/manufacturer", T.StringType()),
     T.StructField("device-info/model", T.StringType()),
     T.StructField("device-info/os-name", T.StringType()),
     T.StructField("reading/time", T.TimestampType()),
     T.StructField("reading/device-id", T.StringType()),
     T.StructField("reading/battery-level", T.DoubleType()),
     T.StructField("reading/battery-status", T.StringType()),
     T.StructField("reading/battery-temperature", T.DoubleType()),
     T.StructField("reading/bssid", T.StringType()),
     T.StructField("reading/cpu-avg-1min", T.DoubleType()),
     T.StructField("reading/cpu-avg-5min", T.DoubleType()),
     T.StructField("reading/cpu-avg-15min", T.DoubleType()),
     T.StructField("reading/mem-free", T.DoubleType()),
     T.StructField("reading/mem-used", T.DoubleType()),
     T.StructField("reading/rssi", T.DoubleType()),
     T.StructField("reading/ssid", T.StringType())]
)

_WEATHER_SCHEMA = T.StructType(
    [T.StructField("location/location", T.StringType()),
     T.StructField("location/environment", T.StringType()),
     T.StructField("condition/time", T.TimestampType()),
     T.StructField("condition/device-id", T.StringType()),
     T.StructField("condition/temperature", T.DoubleType()),
     T.StructField("condition/humidity", T.DoubleType())]
)

# Raw-CSV schemas for the single-pass read (guide §6): declared to be
# EXACTLY what inferSchema derives from the generated files (pinned by
# test_ts_csv_schema_matches_inference), so the ingested documents are
# byte-identical to the inference path while the inference's full extra
# scan of every CSV disappears from the timed ingest.
_RAW_DEVICE_INFO = (
    "device_id string, api_version int, manufacturer string, "
    "model string, os_name string"
)
_RAW_READINGS = (
    "time timestamp, device_id string, battery_level double, "
    "battery_status string, battery_temperature double, bssid string, "
    "cpu_avg_1min double, cpu_avg_5min double, cpu_avg_15min double, "
    "mem_free double, mem_used double, rssi double, ssid string"
)
_RAW_LOCATIONS = "device_id string, location string, environment string"
_RAW_CONDITIONS = (
    "time timestamp, device_id string, temperature double, humidity double"
)


def run_devices_suite(spark, datadir: str) -> dict[str, float]:
    """ts_devices.clj:256-270 — :ingest, :recent-battery-readings,
    :busiest-devices, :min-max-battery-level-per-hour."""
    from crux_spark.bitemporal.store import TxStore
    from crux_spark.datalog import q as dq
    from crux_spark.sources.loaders import read_csv_documents

    timings: dict[str, float] = {}

    t0 = time.perf_counter()
    info_raw = read_csv_documents(
        spark, os.path.join(datadir, "device_info"), id_col="device_id",
        schema=_RAW_DEVICE_INFO,
    )
    readings_raw = read_csv_documents(
        spark, os.path.join(datadir, "readings"), id_col="device_id",
        schema=_RAW_READINGS,
    ).withColumn("time", F.to_timestamp("time"))
    info = info_raw.select(
        F.concat(F.lit("device-info/"), F.col("device_id")).alias("_id"),
        F.col("api_version").alias("device-info/api-version"),
        F.col("manufacturer").alias("device-info/manufacturer"),
        F.col("model").alias("device-info/model"),
        F.col("os_name").alias("device-info/os-name"),
        F.to_timestamp(F.lit("1970-01-01 00:00:00")).alias("__vf"),
    )
    readings = readings_raw.select(
        F.concat(F.lit("reading/"), F.col("device_id")).alias("_id"),
        F.col("time").alias("reading/time"),
        F.concat(F.lit("device-info/"), F.col("device_id")).alias("reading/device-id"),
        F.col("battery_level").cast("double").alias("reading/battery-level"),
        F.col("battery_status").alias("reading/battery-status"),
        F.col("battery_temperature").cast("double").alias("reading/battery-temperature"),
        F.col("bssid").alias("reading/bssid"),
        F.col("cpu_avg_1min").cast("double").alias("reading/cpu-avg-1min"),
        F.col("cpu_avg_5min").cast("double").alias("reading/cpu-avg-5min"),
        F.col("cpu_avg_15min").cast("double").alias("reading/cpu-avg-15min"),
        F.col("mem_free").cast("double").alias("reading/mem-free"),
        F.col("mem_used").cast("double").alias("reading/mem-used"),
        F.col("rssi").cast("double").alias("reading/rssi"),
        F.col("ssid").alias("reading/ssid"),
    )
    store = TxStore(spark)
    # device-info docs are static: valid from epoch (the reference puts
    # them without a valid time, ts_devices.clj:64-67); readings are one
    # ENTITY per device, a new version per timestamp with valid-time =
    # reading time (ts_devices.clj:69-77)
    store.bulk_ingest(
        info, id_expr="_id",
        doc_cols=[c for c in info.columns if c not in ("_id", "__vf")],
        valid_from_col="__vf",
    )
    store.bulk_ingest(
        readings, id_expr="_id",
        doc_cols=[c for c in readings.columns if c != "_id"],
        valid_from_col="reading/time",
    )
    timings["ts_devices_ingest"] = time.perf_counter() - t0

    cat = store.catalog(schema=_DEVICES_SCHEMA)

    # the relational oracle's view of the snapshot: latest reading per
    # device (entity overwrite semantics)
    latest = readings_raw.withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("device_id").orderBy(F.col("time").desc())
        ),
    ).filter("_rn = 1").drop("_rn")

    got_rows, timings["ts_devices_recent_battery"] = _timed_rows(
        dq(
            cat,
            {
                "find": ["?time", "?d", "?bt"],
                "where": [
                    ["?r", ":reading/time", "?time"],
                    ["?r", ":reading/device-id", "?d"],
                    ["?r", ":reading/battery-temperature", "?bt"],
                ],
                "order-by": [["?time", "desc"], ["?d", "desc"]],
                "limit": 10,
            },
        )
    )
    exp = _rows(
        latest.select(
            "time",
            F.concat(F.lit("device-info/"), F.col("device_id")).alias("d"),
            "battery_temperature",
        )
        .orderBy(F.col("time").desc(), F.col("d").desc())
        .limit(10)
    )
    assert got_rows == exp, (got_rows[:3], exp[:3])

    got_rows, _t_busiest = _timed_rows(
        dq(
            cat,
            {
                "find": ["?time", "?d", "?cpu", "?bl", "?bs", "?model"],
                "where": [
                    ["?r", ":reading/time", "?time"],
                    ["?r", ":reading/device-id", "?d"],
                    ["?r", ":reading/cpu-avg-1min", "?cpu"],
                    ["?r", ":reading/battery-level", "?bl"],
                    [["<", "?bl", 33.0]],
                    ["?r", ":reading/battery-status", "discharging"],
                    ["?r", ":reading/battery-status", "?bs"],
                    ["?d", ":device-info/model", "?model"],
                ],
                "order-by": [["?cpu", "desc"], ["?time", "desc"], ["?d", "desc"]],
                "limit": 5,
            },
        )
    )
    timings["ts_devices_busiest"] = _t_busiest
    exp = _rows(
        latest.filter(
            (F.col("battery_level") < 33.0)
            & (F.col("battery_status") == "discharging")
        )
        .join(F.broadcast(info_raw.select("device_id", "model")), "device_id")
        .select(
            "time",
            F.concat(F.lit("device-info/"), F.col("device_id")).alias("d"),
            F.col("cpu_avg_1min").cast("double"),
            F.col("battery_level").cast("double"),
            "battery_status",
            "model",
        )
        .orderBy(F.col("cpu_avg_1min").desc(), F.col("time").desc(), F.col("d").desc())
        .limit(5)
    )
    assert got_rows == exp, (got_rows[:2], exp[:2])

    # history rollup: min/max battery per hour for pinto/focus devices
    # over EVERY version — one history_scan + one group-by shuffle (the
    # reference merge-sorts per-entity history cursors on the driver,
    # ts_devices.clj:216-255)
    doc = F.from_json("doc_json", "map<string,string>")
    eligible = info_raw.filter(F.col("model").isin("pinto", "focus")).select(
        F.concat(F.lit("reading/"), F.col("device_id")).alias("eid")
    )
    got_rows, _t_minmax = _timed_rows(
        store.history_scan()
        .join(F.broadcast(eligible), "eid")
        .select(
            F.date_trunc("hour", F.timestamp_micros("valid_from")).alias("hour"),
            F.element_at(doc, "reading/battery-level").cast("double").alias("bl"),
        )
        .groupBy("hour")
        .agg(F.min("bl").alias("min_bl"), F.max("bl").alias("max_bl"))
        .orderBy("hour")
        .limit(12)
    )
    timings["ts_devices_minmax_hour"] = _t_minmax
    exp = _rows(
        readings_raw.join(
            F.broadcast(
                info_raw.filter(F.col("model").isin("pinto", "focus")).select("device_id")
            ),
            "device_id",
        )
        .select(
            F.date_trunc("hour", "time").alias("hour"),
            F.col("battery_level").cast("double").alias("bl"),
        )
        .groupBy("hour")
        .agg(F.min("bl").alias("min_bl"), F.max("bl").alias("max_bl"))
        .orderBy("hour")
        .limit(12)
    )
    assert got_rows == exp, (got_rows[:3], exp[:3])
    # release the store's pinned localCheckpoint blocks — they are dead
    # after the suite and would squeeze whatever runs next
    store.versions.unpersist(blocking=False)
    return timings


def run_weather_suite(spark, datadir: str) -> dict[str, float]:
    """ts_weather.clj:349-360 — :ingest, :last-10-readings,
    :last-10-readings-from-outside-locations,
    :hourly-average-min-max-temperatures-for-field-locations."""
    from crux_spark.bitemporal.store import TxStore
    from crux_spark.datalog import q as dq
    from crux_spark.sources.loaders import read_csv_documents

    timings: dict[str, float] = {}

    t0 = time.perf_counter()
    locs_raw = read_csv_documents(
        spark, os.path.join(datadir, "locations"), id_col="device_id",
        schema=_RAW_LOCATIONS,
    )
    conditions_raw = read_csv_documents(
        spark, os.path.join(datadir, "conditions"), id_col="device_id",
        schema=_RAW_CONDITIONS,
    ).withColumn("time", F.to_timestamp("time"))
    locs = locs_raw.select(
        F.concat(F.lit("location/"), F.col("device_id")).alias("_id"),
        F.col("location").alias("location/location"),
        F.col("environment").alias("location/environment"),
        F.to_timestamp(F.lit("1970-01-01 00:00:00")).alias("__vf"),
    )
    conditions = conditions_raw.select(
        F.concat(F.lit("condition/"), F.col("device_id")).alias("_id"),
        F.col("time").alias("condition/time"),
        F.concat(F.lit("location/"), F.col("device_id")).alias("condition/device-id"),
        F.col("temperature").cast("double").alias("condition/temperature"),
        F.col("humidity").cast("double").alias("condition/humidity"),
    )
    store = TxStore(spark)
    store.bulk_ingest(
        locs, id_expr="_id",
        doc_cols=[c for c in locs.columns if c not in ("_id", "__vf")],
        valid_from_col="__vf",
    )
    store.bulk_ingest(
        conditions, id_expr="_id",
        doc_cols=[c for c in conditions.columns if c != "_id"],
        valid_from_col="condition/time",
    )
    timings["ts_weather_ingest"] = time.perf_counter() - t0

    cat = store.catalog(schema=_WEATHER_SCHEMA)
    latest = conditions_raw.withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("device_id").orderBy(F.col("time").desc())
        ),
    ).filter("_rn = 1").drop("_rn")

    got_rows, _t_last10 = _timed_rows(
        dq(
            cat,
            {
                "find": ["?time", "?d", "?temp", "?hum"],
                "where": [
                    ["?c", ":condition/time", "?time"],
                    ["?c", ":condition/device-id", "?d"],
                    ["?c", ":condition/temperature", "?temp"],
                    ["?c", ":condition/humidity", "?hum"],
                ],
                "order-by": [["?time", "desc"], ["?d", "asc"]],
                "limit": 10,
            },
        )
    )
    timings["ts_weather_last10"] = _t_last10
    exp = _rows(
        latest.select(
            "time",
            F.concat(F.lit("location/"), F.col("device_id")).alias("d"),
            F.col("temperature").cast("double"),
            F.col("humidity").cast("double"),
        )
        .orderBy(F.col("time").desc(), F.col("d").asc())
        .limit(10)
    )
    assert got_rows == exp, (got_rows[:3], exp[:3])

    got_rows, _t_outside = _timed_rows(
        dq(
            cat,
            {
                "find": ["?time", "?d", "?loc", "?temp", "?hum"],
                "where": [
                    ["?c", ":condition/time", "?time"],
                    ["?c", ":condition/device-id", "?d"],
                    ["?c", ":condition/temperature", "?temp"],
                    ["?c", ":condition/humidity", "?hum"],
                    ["?d", ":location/location", "?loc"],
                    ["?d", ":location/environment", "outside"],
                ],
                "order-by": [["?time", "desc"], ["?d", "asc"]],
                "limit": 10,
            },
        )
    )
    timings["ts_weather_last10_outside"] = _t_outside
    exp = _rows(
        latest.join(
            F.broadcast(
                locs_raw.filter(F.col("environment") == "outside").select(
                    "device_id", "location"
                )
            ),
            "device_id",
        )
        .select(
            "time",
            F.concat(F.lit("location/"), F.col("device_id")).alias("d"),
            "location",
            F.col("temperature").cast("double"),
            F.col("humidity").cast("double"),
        )
        .orderBy(F.col("time").desc(), F.col("d").asc())
        .limit(10)
    )
    assert got_rows == exp, (got_rows[:3], exp[:3])

    # hourly avg/min/max temperature for field-% locations over history
    doc = F.from_json("doc_json", "map<string,string>")
    field_devs = locs_raw.filter(F.col("location").startswith("field-")).select(
        F.concat(F.lit("condition/"), F.col("device_id")).alias("eid")
    )
    got_rows, _t_hourly = _timed_rows(
        store.history_scan()
        .join(F.broadcast(field_devs), "eid")
        .select(
            F.date_trunc("hour", F.timestamp_micros("valid_from")).alias("hour"),
            F.element_at(doc, "condition/temperature").cast("double").alias("temp"),
        )
        .groupBy("hour")
        .agg(
            F.round(F.avg("temp"), 2).alias("avg_temp"),
            F.round(F.min("temp"), 2).alias("min_temp"),
            F.round(F.max("temp"), 2).alias("max_temp"),
        )
        .orderBy("hour")
        .limit(24)
    )
    timings["ts_weather_hourly_temp"] = _t_hourly
    exp = _rows(
        conditions_raw.join(
            F.broadcast(
                locs_raw.filter(F.col("location").startswith("field-")).select(
                    "device_id"
                )
            ),
            "device_id",
        )
        .select(
            F.date_trunc("hour", "time").alias("hour"),
            F.col("temperature").cast("double").alias("temp"),
        )
        .groupBy("hour")
        .agg(
            F.round(F.avg("temp"), 2).alias("avg_temp"),
            F.round(F.min("temp"), 2).alias("min_temp"),
            F.round(F.max("temp"), 2).alias("max_temp"),
        )
        .orderBy("hour")
        .limit(24)
    )
    assert got_rows == exp, (got_rows[:3], exp[:3])
    store.versions.unpersist(blocking=False)
    return timings


def run_ts_suites(
    spark,
    workdir: str,
    n_devices: int = 200,
    n_reading_times: int = 360,
    n_locations: int = 100,
    n_condition_times: int = 960,
) -> dict[str, float]:
    """Generate + ingest + query both suites; returns step timings.
    Defaults: 72k readings over 12 h (device step 120 s), 96k conditions
    over 24 h (weather step 90 s) — the 'small' datasets' shape."""
    ddir = os.path.join(workdir, "ts_devices")
    wdir = os.path.join(workdir, "ts_weather")
    gen_devices_csvs(spark, ddir, n_devices, n_reading_times, step_s=120)
    gen_weather_csvs(spark, wdir, n_locations, n_condition_times, step_s=90)
    out = run_devices_suite(spark, ddir)
    out.update(run_weather_suite(spark, wdir))
    return out


def main() -> int:
    import tempfile

    from crux_spark import get_spark

    spark = get_spark("ts-bench", cpus=16, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as td:
        t0 = time.perf_counter()
        timings = run_ts_suites(spark, td)
        total = time.perf_counter() - t0
    print(json.dumps({
        "metric": "ts_suites_wall", "value": round(total, 2), "unit": "sec",
        "steps": {k: round(v, 2) for k, v in timings.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
