"""Seeded benchmark inputs, built outside every timed region.

- ``docsis_table``: a docsis fact table in the engine's fixture schema
  (``datagen.ARROW_SCHEMA``): nested channel arrays plus the packed wire
  strings they were parsed from, with counter resets and overflow glitches.
  Vectorized: a sf0.1-sized table (36k rows) builds in about a second.
- ``land_backlog``: the same scrapes as HNAP payload landing files, the
  shape the poll connector writes for the streaming ingest.
- ``dashboard_statements``: ClickHouse-dialect panel statements, each with a
  DuckDB twin that states the same result in DuckDB SQL.

The same seed gives the same inputs.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from mb8600_clickhouse_spark.datagen import (
    ARROW_DS_CHANNEL,
    ARROW_SCHEMA,
    ARROW_US_CHANNEL,
    CONFIGS,
    VERSIONS,
)
from mb8600_clickhouse_spark.schemas import FIXTURE_SCHEMAS

START = dt.datetime(2025, 6, 1)
SPAN_S = 8 * 86400


def _strs(a: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


def _counters(rng: np.random.Generator, n: int, c: int, step: int) -> np.ndarray:
    """Monotone per-channel counters with occasional resets (reboots)."""
    inc = rng.integers(0, step + 1, (n, c))
    reset = rng.random((n, c)) < 0.004
    start = rng.integers(0, 5000, c)
    total = np.cumsum(inc, axis=0) + start
    rows = np.arange(n)[:, None]
    last = np.maximum.accumulate(np.where(reset, rows, -1), axis=0)
    at_reset = np.take_along_axis(total, np.maximum(last, 0), axis=0)
    base = np.take_along_axis(rng.integers(0, 11, (n, c)), np.maximum(last, 0), axis=0)
    return np.where(last < 0, total, base + total - at_reset)


def _channels(fields: dict[str, pa.Array], per_row: int, n_rows: int, struct_type) -> pa.Array:
    arrays = [fields[f.name] for f in struct_type]
    flat = pa.StructArray.from_arrays(arrays, fields=list(struct_type))
    offsets = pa.array(np.arange(n_rows + 1, dtype=np.int32) * per_row)
    return pa.ListArray.from_arrays(offsets, flat)


def _packed(parts: list, per_row: int, n_rows: int) -> pa.Array:
    """``^``-joined records, ``|+|``-joined per row (the HNAP wire form)."""
    recs = pc.binary_join_element_wise(*parts, "^")
    offsets = pa.array(np.arange(n_rows + 1, dtype=np.int32) * per_row)
    return pc.binary_join(pa.ListArray.from_arrays(offsets, recs), "|+|")


def _modem(rng: np.random.Generator, name: str, m_idx: int, seconds: np.ndarray) -> pa.Table:
    n = len(seconds)
    n_ds, n_us = int(rng.integers(24, 34)), int(rng.integers(4, 9))
    # downstream: the last two channels are OFDM PLC (the SNR-fix rows)
    mods = np.array(["QAM256"] * (n_ds - 2) + ["OFDM PLC"] * 2)
    ofdm = np.broadcast_to(mods == "OFDM PLC", (n, n_ds))
    cor = _counters(rng, n, n_ds, 40)
    uncor = _counters(rng, n, n_ds, 8)
    glitch = rng.random((n, n_ds)) < 0.002  # firmware overflow -> negative
    uncor = np.where(glitch, -rng.integers(1, 2**31, (n, n_ds)), uncor)
    low = ofdm & (rng.random((n, n_ds)) < 0.6)
    snr_raw = np.round(np.where(low, rng.uniform(12.0, 19.9, (n, n_ds)),
                                rng.uniform(30.0, 45.0, (n, n_ds))), 1)
    power = np.round(rng.uniform(-8.0, 8.0, (n, n_ds)), 1)
    freq = np.broadcast_to(400.0 + 6.0 * np.arange(n_ds), (n, n_ds))
    chan = np.broadcast_to(np.arange(1, n_ds + 1, dtype=np.int32), (n, n_ds))
    mod_flat = np.broadcast_to(mods, (n, n_ds)).ravel()
    ds = _channels(
        {
            "channel_id": pa.array(chan.ravel()),
            "frequency": pa.array((freq * 1e6).ravel(), pa.float32()),
            "modulation": pa.array(mod_flat),
            "power": pa.array(power.ravel(), pa.float32()),
            "snr": pa.array(np.where(low, snr_raw * 2.5, snr_raw).ravel(), pa.float32()),
            "corrected_errors": pa.array(cor.ravel()),
            "uncorrected_errors": pa.array(uncor.ravel()),
        },
        n_ds, n, ARROW_DS_CHANNEL,
    )
    ds_raw = _packed(
        ["1", "Locked", pa.array(mod_flat), _strs(chan.ravel()), _strs(freq.ravel()),
         _strs(power.ravel()), _strs(snr_raw.ravel()), _strs(cor.ravel()),
         _strs(uncor.ravel()), " "],
        n_ds, n,
    )
    us_mods = np.array(["SC-QAM", "OFDMA"] * 4)[:n_us]
    us_power = np.round(rng.uniform(38.0, 51.0, (n, n_us)), 1)
    width = rng.choice([1600.0, 3200.0, 6400.0], (n, n_us))
    us_freq = np.broadcast_to(16.4 + 6.4 * np.arange(n_us), (n, n_us))
    us_chan = np.broadcast_to(np.arange(1, n_us + 1, dtype=np.int32), (n, n_us))
    us_mod_flat = np.broadcast_to(us_mods, (n, n_us)).ravel()
    us = _channels(
        {
            "channel_id": pa.array(us_chan.ravel()),
            "frequency": pa.array((us_freq * 1e6).ravel(), pa.float32()),
            "modulation": pa.array(us_mod_flat),
            "power": pa.array(us_power.ravel(), pa.float32()),
            "width": pa.array((width * 1000).ravel(), pa.float32()),
        },
        n_us, n, ARROW_US_CHANNEL,
    )
    us_raw = _packed(
        ["1", "Locked", pa.array(us_mod_flat), _strs(us_chan.ravel()), _strs(width.ravel()),
         _strs(np.round(us_freq, 1).ravel()), _strs(us_power.ravel()), " "],
        n_us, n,
    )
    up = rng.integers(0, 46 * 86400, n)
    d, rem = np.divmod(up, 86400)
    h, rem = np.divmod(rem, 3600)
    mi, s = np.divmod(rem, 60)
    uptime_raw = [f"{a}days {b:02d}h:{c:02d}m:{e:02d}s" for a, b, c, e in zip(d, h, mi, s)]
    configs = np.where(rng.random(n) < 0.05, None, CONFIGS[m_idx % len(CONFIGS)])
    versions = np.where(np.arange(n) > n // 2, VERSIONS[(m_idx + 1) % 3], VERSIONS[m_idx % 3])
    ts = np.datetime64(START, "us") + seconds.astype("timedelta64[s]")
    return pa.Table.from_arrays(
        [
            pa.array([name] * n),
            pa.array(configs, pa.string()),
            pa.array(up),
            pa.array(versions),
            pa.array(["MB8600"] * n),
            ds,
            us,
            pa.array(np.round(rng.uniform(0.05, 3.0, n), 3), pa.float32()),
            pa.array(ts, pa.timestamp("us")),
            ds_raw,
            us_raw,
            pa.array(uptime_raw),
        ],
        schema=ARROW_SCHEMA,
    )


def modem_names(n_modems: int) -> list[str]:
    return [f"cm-{i:02d}" for i in range(n_modems)]


def docsis_table(seed: int, n_modems: int, rows_per_modem: int) -> pa.Table:
    """``rows_per_modem`` scrapes per modem evenly over eight days; modem
    ``i`` scrapes ``i`` seconds after the slot, so (modem, ts) is unique."""
    rng = np.random.default_rng([seed, n_modems, rows_per_modem])
    step = SPAN_S // rows_per_modem
    slots = np.arange(rows_per_modem, dtype=np.int64) * step
    return pa.concat_tables(
        _modem(rng, name, i, slots + i) for i, name in enumerate(modem_names(n_modems))
    )


def write_fixture_dir(sf_dir: str, table: pa.Table) -> str:
    """A fixture directory for the query registry: ``docsis.parquet`` plus
    an empty file per fixture table, so ``register_views`` resolves every
    name. Returns the docsis path."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, schema in FIXTURE_SCHEMAS.items():
        fields = [pa.field(f.name, _ARROW_TYPES[f.dataType.typeName()]) for f in schema.fields]
        pq.write_table(pa.Table.from_pylist([], pa.schema(fields)), f"{sf_dir}/{name}.parquet")
    path = os.path.join(sf_dir, "docsis.parquet")
    pq.write_table(table, path, row_group_size=4096)
    return path


_ARROW_TYPES = {
    "integer": pa.int32(),
    "long": pa.int64(),
    "double": pa.float64(),
    "float": pa.float32(),
    "string": pa.string(),
    "timestamp": pa.timestamp("us"),
    "boolean": pa.bool_(),
    "binary": pa.binary(),
    "array": pa.list_(pa.float32()),
}


def land_backlog(table: pa.Table, landing_dir: str, n_files: int) -> list[list[tuple[str, int]]]:
    """Write the table's scrapes as HNAP payload records (JSON lines),
    time-ordered into ``n_files`` landing files with increasing mtimes so
    the file source takes them in a fixed order. Returns, per file, the
    (modem_name, epoch second) pairs it holds."""
    os.makedirs(landing_dir, exist_ok=True)
    rows = table.sort_by([("timestamp", "ascending"), ("modem_name", "ascending")]).to_pylist()
    per_file = -(-len(rows) // n_files)
    t0 = 1_700_000_000
    out = []
    for i in range(n_files):
        chunk = rows[i * per_file:(i + 1) * per_file]
        keys, lines = [], []
        for r in chunk:
            ts = int(r["timestamp"].replace(tzinfo=dt.timezone.utc).timestamp())
            keys.append((r["modem_name"], ts))
            lines.append(json.dumps({
                "modem_name": r["modem_name"],
                "payload": json.dumps(_envelope(r)),
                "scrape_latency": float(r["scrape_latency"]),
                "ts": float(ts),
            }))
        path = os.path.join(landing_dir, f"scrape-{i:05d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(path, (t0 + i, t0 + i))
        out.append(keys)
    return out


def _envelope(r: dict) -> dict:
    return {
        "GetMultipleHNAPsResponse": {
            "GetMultipleHNAPsResult": "OK",
            "GetMotoStatusStartupSequenceResponse": {
                "MotoConnConfigurationFileComment": r["modem_config_filename"]
            },
            "GetMotoStatusConnectionInfoResponse": {"MotoConnSystemUpTime": r["uptime_raw"]},
            "GetMotoStatusDownstreamChannelInfoResponse": {
                "MotoConnDownstreamChannel": r["downstream_raw"]
            },
            "GetMotoStatusUpstreamChannelInfoResponse": {
                "MotoConnUpstreamChannel": r["upstream_raw"]
            },
            "GetMotoStatusSoftwareResponse": {"StatusSoftwareSfVer": r["modem_version"]},
        }
    }


# -- dashboard panels ----------------------------------------------------------
# Each template is a (ClickHouse statement, DuckDB twin) pair over the
# ``docsis`` view. Key columns sort (by name) ahead of every float column, so
# a tolerant row-wise comparison lines rows up by their keys.
PANELS = [
    (
        "hourly_snr",
        """SELECT modem_name, toStartOfHour(timestamp) AS hour, count() AS n,
       min(ch.snr) AS v_min_snr, max(ch.power) AS v_max_power,
       sum(ch.corrected_errors) AS n_corrected
FROM docsis ARRAY JOIN downstream_channels AS ch
WHERE timestamp >= toDateTime('{t0}') AND timestamp < toDateTime('{t1}')
  AND modem_name IN ({modems})
GROUP BY modem_name, hour ORDER BY modem_name, hour""",
        """SELECT modem_name, date_trunc('hour', timestamp) AS hour, count(*) AS n,
       min(ch.snr) AS v_min_snr, max(ch.power) AS v_max_power,
       CAST(sum(ch.corrected_errors) AS BIGINT) AS n_corrected
FROM (SELECT modem_name, timestamp, unnest(downstream_channels) AS ch FROM docsis)
WHERE timestamp >= TIMESTAMP '{t0}' AND timestamp < TIMESTAMP '{t1}'
  AND modem_name IN ({modems})
GROUP BY modem_name, hour ORDER BY modem_name, hour""",
    ),
    (
        "last_point",
        """SELECT modem_name, argMax(modem_uptime, timestamp) AS n_uptime,
       argMax(modem_version, timestamp) AS k_version, max(timestamp) AS last_seen,
       count() AS n_scrapes
FROM docsis
WHERE timestamp >= toDateTime('{t0}') AND timestamp < toDateTime('{t1}')
  AND modem_name IN ({modems})
GROUP BY modem_name ORDER BY modem_name""",
        """SELECT modem_name, arg_max(modem_uptime, timestamp) AS n_uptime,
       arg_max(modem_version, timestamp) AS k_version, max(timestamp) AS last_seen,
       count(*) AS n_scrapes
FROM docsis
WHERE timestamp >= TIMESTAMP '{t0}' AND timestamp < TIMESTAMP '{t1}'
  AND modem_name IN ({modems})
GROUP BY modem_name ORDER BY modem_name""",
    ),
    (
        "latency_quantiles",
        """SELECT modem_name, toStartOfHour(timestamp) AS hour,
       quantileExact(0.5)(scrape_latency) AS v_p50, quantileExact(0.9)(scrape_latency) AS v_p90
FROM docsis
WHERE timestamp >= toDateTime('{t0}') AND timestamp < toDateTime('{t1}')
  AND modem_name IN ({modems})
GROUP BY modem_name, hour ORDER BY modem_name, hour""",
        """SELECT modem_name, date_trunc('hour', timestamp) AS hour,
       quantile_cont(CAST(scrape_latency AS DOUBLE), 0.5) AS v_p50,
       quantile_cont(CAST(scrape_latency AS DOUBLE), 0.9) AS v_p90
FROM docsis
WHERE timestamp >= TIMESTAMP '{t0}' AND timestamp < TIMESTAMP '{t1}'
  AND modem_name IN ({modems})
GROUP BY modem_name, hour ORDER BY modem_name, hour""",
    ),
    (
        "channel_errors",
        """SELECT modem_name, ch.channel_id AS channel_id, count() AS n,
       max(ch.uncorrected_errors) AS n_max_uncorrected, min(ch.snr) AS v_min_snr
FROM docsis ARRAY JOIN downstream_channels AS ch
WHERE timestamp >= toDateTime('{t0}') AND timestamp < toDateTime('{t1}')
  AND modem_name IN ({modems}) AND ch.channel_id <= {max_channel}
GROUP BY modem_name, channel_id ORDER BY modem_name, channel_id""",
        """SELECT modem_name, ch.channel_id AS channel_id, count(*) AS n,
       max(ch.uncorrected_errors) AS n_max_uncorrected, min(ch.snr) AS v_min_snr
FROM (SELECT modem_name, timestamp, unnest(downstream_channels) AS ch FROM docsis)
WHERE timestamp >= TIMESTAMP '{t0}' AND timestamp < TIMESTAMP '{t1}'
  AND modem_name IN ({modems}) AND ch.channel_id <= {max_channel}
GROUP BY modem_name, channel_id ORDER BY modem_name, channel_id""",
    ),
]


#: every panel reads the same amount of data; the seed only moves it
PANEL_WINDOW_H, PANEL_MODEMS = 12, 2


def dashboard_statements(seed: int, n: int, n_modems: int) -> list[tuple[str, str, str]]:
    """``n`` (panel, ClickHouse SQL, DuckDB SQL) triples cycling through the
    panels, each with its own seeded time window, modem pair and channel
    bound, so no two statements share text."""
    rng = np.random.default_rng([seed, 7, n])
    names = modem_names(n_modems)
    out, seen = [], set()
    while len(out) < n:
        panel, ch, duck = PANELS[len(out) % len(PANELS)]
        start = START + dt.timedelta(minutes=int(rng.integers(0, (SPAN_S - 86400) // 60)))
        end = start + dt.timedelta(hours=PANEL_WINDOW_H)
        picked = sorted(rng.choice(names, PANEL_MODEMS, replace=False))
        params = {
            "t0": start.strftime("%Y-%m-%d %H:%M:%S"),
            "t1": end.strftime("%Y-%m-%d %H:%M:%S"),
            "modems": ", ".join(f"'{m}'" for m in picked),
            "max_channel": int(rng.integers(4, 25)),
        }
        sql = ch.format(**params)
        if sql in seen:
            continue
        seen.add(sql)
        out.append((panel, sql, duck.format(**params)))
    return out
