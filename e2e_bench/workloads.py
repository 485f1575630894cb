"""The two workloads. Each is a closed loop with one client in one process.

A workload builds its seeded inputs (``prepare``), makes a fresh session
ready (``setup``), runs one pass of identical work from identical state
(``run_pass``), and checks every output of the timed passes against an
independent answer (``check``). ``run.py`` owns the protocol: cold pass,
warm-up to convergence, repeated set-ups, a fixed count of timed passes.
Nothing a workload checks is inside a timed region.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import duckdb
import numpy as np

from e2e_bench import inputs

UTC = dt.timezone.utc


@dataclass
class PassResult:
    wall: float
    ops: list[float]  # per-operation latency (s) in pass order
    rows: int  # input rows the pass processed
    detail: dict = field(default_factory=dict)


def redirect_docsis(path: str) -> None:
    """Point the engine's docsis fixture lookup at the seeded table (it
    otherwise resolves the repository's fixed-seed file, or generates one
    under ``data/``)."""
    from mb8600_clickhouse_spark import datagen, queries, tables

    for mod in (datagen, queries, tables):
        mod.docsis_path_for = lambda _sf_dir: path


def _duckdb(run_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{run_dir}/duckdb'")
    con.execute("SET threads=4")
    return con


class Workload:
    name = ""
    op = ""  # what one operation is
    setup_reps = 5

    def __init__(self, spark, run_dir: str, seed: int, tracer) -> None:
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.tracer = tracer
        self.sf_dir = os.path.join(run_dir, "fixtures", "bench_sf")
        self.timed = False  # set by the protocol for the timed passes

    def after_pass(self, result: PassResult) -> None:
        """Per-pass checks and bookkeeping, outside timing."""

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def _docsis(self, n_modems: int, rows_per_modem: int) -> int:
        table = inputs.docsis_table(self.seed, n_modems, rows_per_modem)
        self.docsis_path = inputs.write_fixture_dir(self.sf_dir, table)
        redirect_docsis(self.docsis_path)
        return table.num_rows


class TelemetrySQL(Workload):
    """A dashboard page load per pass: a fresh ``spark.newSession()`` (so no
    session-keyed memo serves a repeat), the DOCSIS registry queries run to
    completion with a ``noop`` write, then seeded ClickHouse-dialect panel
    statements through ``ch_sql``, each fetched with ``toPandas``. Every
    statement's text differs, so the process-wide rewrite cache misses."""

    name = "telemetry_sql"
    op = "statement"
    #: DOCSIS rows of the registry (docsis-only oracle rows): argMax,
    #: per-row array min over the channel array, and the dialect ARRAY JOIN,
    #: which registers the ClickHouse scalars and the views in the pass's
    #: new session (the panels below rely on both).
    QUERIES = [
        "q11_last_point",
        "q13_worst_channel_rank",
        "q102_clickhouse_array_join",
    ]
    PANELS_PER_PASS = 4
    setup_reps = 3  # a set-up registers the 241 ClickHouse scalars (~1 s)
    N_MODEMS, ROWS_PER_MODEM = 4, 2000

    def prepare(self, max_passes: int) -> dict:
        from mb8600_clickhouse_spark.queries import all_queries

        self.rows = self._docsis(self.N_MODEMS, self.ROWS_PER_MODEM)
        self.specs = [all_queries()[q] for q in self.QUERIES]
        self.panels = inputs.dashboard_statements(
            self.seed, max_passes * self.PANELS_PER_PASS, self.N_MODEMS
        )
        self.next_panel = 0
        self.fetched: list[tuple[str, str, object]] = []
        return {
            "docsis_rows": self.rows,
            "queries": self.QUERIES,
            "panels_per_pass": self.PANELS_PER_PASS,
        }

    def setup(self):
        from mb8600_clickhouse_spark.functions.clickhouse import register_clickhouse_functions
        from mb8600_clickhouse_spark.tables import register_views

        s = self.spark.newSession()
        register_clickhouse_functions(s)
        register_views(s, self.sf_dir)
        s.sql("SELECT count(*) FROM docsis").collect()
        return s

    def run_pass(self, _ctx) -> PassResult:
        from mb8600_clickhouse_spark.functions.chsql import ch_sql

        t0 = time.perf_counter()
        s = self.spark.newSession()
        ops, per_query = [], {}
        for spec in self.specs:
            t = time.perf_counter()
            with self.span("queries.build"):
                df = spec.fn(s, self.sf_dir)
            with self.span("exec.action"):
                df.write.format("noop").mode("overwrite").save()
            per_query[spec.name] = time.perf_counter() - t
            ops.append(per_query[spec.name])
        panels = self.panels[self.next_panel:self.next_panel + self.PANELS_PER_PASS]
        self.next_panel += len(panels)
        stmt = []
        for panel, sql, twin in panels:
            t = time.perf_counter()
            df = ch_sql(s, sql)
            with self.span("exec.action"):
                pdf = df.toPandas()
            stmt.append(time.perf_counter() - t)
            if self.timed:
                self.fetched.append((panel, twin, pdf))
        return PassResult(
            time.perf_counter() - t0, ops + stmt,
            self.rows * (len(self.specs) + len(panels)),
            {"per_query": per_query, "panel_s": stmt},
        )

    def check(self) -> tuple[int, list[str]]:
        """Each registry query against its DuckDB oracle (harness.oracle), and
        every timed panel statement against its DuckDB twin."""
        from harness.oracle import _compare_tolerant, compare

        con = _duckdb(self.run_dir)
        s = self.spark.newSession()
        failures = []
        for spec in self.specs:
            res = compare(
                spec.name,
                spec.fn(s, self.sf_dir).toPandas(),
                con.sql(spec.oracle_for(self.sf_dir)).df(),
            )
            if not res.ok:
                failures.append(str(res))
        con.execute(f"CREATE VIEW docsis AS SELECT * FROM read_parquet('{self.docsis_path}')")
        for i, (panel, twin, pdf) in enumerate(self.fetched):
            res = _compare_tolerant(f"{panel}#{i}", pdf, con.sql(twin).df(), 1e-9)
            if not res.ok:
                failures.append(str(res))
        return len(self.specs) + len(self.fetched), failures

    @staticmethod
    def summary(passes: list[PassResult]) -> dict:
        d = [p.detail for p in passes]
        return {
            "query_p50_s": {
                q: float(np.median([e["per_query"][q] for e in d])) for q in d[0]["per_query"]
            },
            "stmt_p50_s": float(np.median([x for e in d for x in e["panel_s"]])),
            
        }


class DocsisIngest(Workload):
    """A seeded backlog of HNAP payload landing files drained by
    ``read_payload_stream`` -> ``parse_payloads`` -> ``manifest_epoch_sink``
    into a fresh ``ManifestTable`` (``availableNow``, fixed
    ``maxFilesPerTrigger``). After each commit the sink runs one pruned
    ``scan``; every ``COMPACT_EVERY`` commits it compacts."""

    name = "docsis_ingest"
    op = "micro-batch"
    N_MODEMS, ROWS_PER_MODEM = 4, 100
    N_FILES, FILES_PER_TRIGGER, COMPACT_EVERY = 12, 2, 3
    SORT = ["modem_name", "timestamp"]

    def prepare(self, max_passes: int) -> dict:
        table = inputs.docsis_table(self.seed, self.N_MODEMS, self.ROWS_PER_MODEM)
        self.landing = os.path.join(self.run_dir, "landing")
        self.file_keys = inputs.land_backlog(table, self.landing, self.N_FILES)
        self.landed = [k for keys in self.file_keys for k in keys]
        self.batches = self.N_FILES // self.FILES_PER_TRIGGER
        rng = np.random.default_rng([self.seed, 11])
        names = inputs.modem_names(self.N_MODEMS)
        t_lo, t_hi = min(t for _, t in self.landed), max(t for _, t in self.landed)
        self.scans = []
        for _ in range(self.batches):  # one modem, one day, seeded position
            a = int(rng.integers(t_lo, t_hi - 86400))
            self.scans.append((str(rng.choice(names)), a, a + 86400))
        self.n_pass = 0
        self.checked: list[dict] = []
        return {
            "landed_rows": len(self.landed),
            "files": self.N_FILES,
            "files_per_trigger": self.FILES_PER_TRIGGER,
            "compact_every_commits": self.COMPACT_EVERY,
        }

    def _stream(self, session):
        from mb8600_clickhouse_spark.streaming.ingest import parse_payloads, read_payload_stream

        return parse_payloads(read_payload_stream(session, self.landing, self.FILES_PER_TRIGGER))

    def setup(self):
        from mb8600_clickhouse_spark.streaming.ingest import PAYLOAD_RECORD_SCHEMA, parse_payloads

        s = self.spark.newSession()
        self._stream(s).schema  # analyzed streaming plan
        first = os.path.join(self.landing, sorted(os.listdir(self.landing))[0])
        parse_payloads(s.read.schema(PAYLOAD_RECORD_SCHEMA).json(first)).count()
        return s

    @staticmethod
    def _ts(a: int) -> dt.datetime:
        return dt.datetime.fromtimestamp(a, UTC).replace(tzinfo=None)

    def run_pass(self, session) -> PassResult:
        from mb8600_clickhouse_spark.plans import ManifestTable
        from mb8600_clickhouse_spark.streaming.ingest import manifest_epoch_sink

        root = os.path.join(self.run_dir, "ingest", f"pass{self.n_pass}")
        self.n_pass += 1
        table_path, ckpt = os.path.join(root, "table"), os.path.join(root, "checkpoint")
        commit = manifest_epoch_sink(table_path)
        table = ManifestTable(table_path)
        log: list[dict] = []
        ends: list[float] = []  # query start, then each batch's end

        def sink(batch_df, epoch_id):
            commit(batch_df, epoch_id)
            spark = batch_df.sparkSession
            modem, a, b = self.scans[epoch_id]
            preds = [("modem_name", "=", modem), ("timestamp", ">=", self._ts(a)),
                     ("timestamp", "<", self._ts(b))]
            version = table.latest_version()
            t = time.perf_counter()
            with self.span("plans.scan"):
                rows = table.scan(spark, preds).select(*self.SORT).collect()
            entry = {"epoch": epoch_id, "version": version, "preds": preds,
                     "scan_s": time.perf_counter() - t, "rows": rows}
            if (epoch_id + 1) % self.COMPACT_EVERY == 0:
                t = time.perf_counter()
                table.compact(spark, sort_cols=self.SORT)
                entry["compact_s"] = time.perf_counter() - t
            log.append(entry)
            ends.append(time.perf_counter())

        t0 = time.perf_counter()
        ends.append(t0)
        with self.span("exec.action"):
            query = (
                self._stream(session).writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
            )
            query.awaitTermination()
        wall = time.perf_counter() - t0
        progress = [p for p in query.recentProgress if p.numInputRows > 0]
        # a micro-batch's latency: from the previous batch's end (the
        # query's start, for the first) to the end of its sink, commit,
        # scan and any compaction included
        ops = [b - a for a, b in zip(ends, ends[1:])]
        durations = {
            k: [p.durationMs.get(k, 0) / 1000.0 for p in progress]
            for k in ("triggerExecution", "getBatch", "addBatch", "queryPlanning", "walCommit")
        }
        detail = {
            "table": table, "root": root, "log": log, "durations": durations,
            "rows_per_batch": [p.numInputRows for p in progress],
        }
        return PassResult(wall, ops, len(self.landed), detail)

    def after_pass(self, result: PassResult) -> None:
        """Check a timed pass and reduce its detail to numbers (outside
        timing), then drop its table."""
        from pyspark.sql import functions as F

        d = result.detail
        table, log = d.pop("table"), d.pop("log")
        if not self.timed:
            shutil.rmtree(d.pop("root"))
            return
        failures = []
        got = [
            (r[0], r[1])
            for r in table.read(self.spark)
            .select("modem_name", F.unix_timestamp("timestamp")).collect()
        ]
        if len(got) != len(set(got)) or set(got) != set(self.landed):
            failures.append(
                f"committed {len(got)} rows ({len(set(got))} distinct), landed {len(self.landed)}"
            )
        manifests = sorted(
            (json.loads(p.read_text()) for p in (table.root / "_manifests").glob("v*.json")),
            key=lambda m: m["version"],
        )
        epochs = [m["epoch"] for m in manifests if "epoch" in m]
        if epochs != list(range(self.batches)):
            failures.append(f"epochs committed {epochs}, want 0..{self.batches - 1} once each")
        for e in log:
            modem, a, b = self.scans[e["epoch"]]
            upto = self.file_keys[: (e["epoch"] + 1) * self.FILES_PER_TRIGGER]
            want = sorted(k for keys in upto for k in keys if k[0] == modem and a <= k[1] < b)
            have = sorted(
                (r[0], int(r[1].replace(tzinfo=UTC).timestamp())) for r in e["rows"]
            )
            if have != want:
                failures.append(f"scan after epoch {e['epoch']}: {len(have)} rows, want {len(want)}")
        appends = [m for m in manifests if m["op"] == "append"]
        rows = max(len(got), 1)
        d.update({
            "checks": 2 + len(log),
            "failures": failures,
            "scan_s": [e["scan_s"] for e in log],
            "compact_s": [e["compact_s"] for e in log if "compact_s" in e],
            "scan_files_share": [
                len(table.prune_files(e["preds"], e["version"]))
                / max(len(table.snapshot_files(e["version"])), 1)
                for e in log
            ],
            "stored_bytes_per_row": _tree_bytes(d["root"]) / rows,
            "manifest_bytes_per_commit": float(np.mean([
                (table.root / "_manifests" / f"v{m['version']}.json").stat().st_size
                for m in appends
            ])),
            "bytes_written_per_row": sum(os.path.getsize(f) for m in appends for f in m["added"])
            / rows,
        })
        shutil.rmtree(d.pop("root"))
        self.checked.append({"checks": d["checks"], "failures": failures})

    def check(self) -> tuple[int, list[str]]:
        """Per pass: committed rows equal the distinct landed (modem_name,
        timestamp) pairs, each epoch committed exactly once, and every scan
        equals a brute-force filter of the records landed so far."""
        return (
            sum(c["checks"] for c in self.checked),
            [f for c in self.checked for f in c["failures"]],
        )

    @staticmethod
    def summary(passes: list[PassResult]) -> dict:
        d = [p.detail for p in passes]
        return {
            "ingest_rows_per_s": float(np.median([p.rows / p.wall for p in passes])),
            "batch_p50_s": float(np.median([x for p in passes for x in p.ops])),
            "trigger_p50_s": float(np.median(
                [x for e in d for x in e["durations"]["triggerExecution"]]
            )),
            "scan_p50_s": float(np.median([x for e in d for x in e["scan_s"]])),
            "compact_p50_s": float(np.median([x for e in d for x in e["compact_s"]])),
            "stored_bytes_per_row": float(np.median([e["stored_bytes_per_row"] for e in d])),
        }


def _tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, files in os.walk(root) for f in files
    )


WORKLOADS = {w.name: w for w in (TelemetrySQL, DocsisIngest)}
