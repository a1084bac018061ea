"""The benchmark's workloads and the loop that times them.

Each workload runs in a fresh process on ``local[4]`` as a closed loop
with one client: a pass starts only after the previous one ended and its
output was checked. The first pass is the cold one (a one-shot CLI run
pays it); the later passes are warm (a long-lived scheduler pays those).

* ``etl_http_merge``: ``run_pipeline`` over one module that fetches a
  paginated JSON API served by a separate process and MERGEs into an
  emptied Postgres table (the insert path). The traced run also times
  the read-back: the ``kind: postgres`` source over the landed table and
  a rollup MERGEd into a table that already holds every key (the
  update path).
* ``gates``: a fixed list of ``plans`` and ``operators`` gates, each
  timed by writing its full result to the ``noop`` sink.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

import datagen
from pgserver import LocalPostgres
from spans import Tracer, cpu_ticks, job_group_metrics, peak_rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))
HTTP_MODULES, HTTP_MODULE = os.path.join(HERE, "modules", "http"), "lineitem_clean.sql"
ROLLUP_MODULES, ROLLUP_MODULE = os.path.join(HERE, "modules", "rollup"), "order_rollup.sql"

HTTP_ROWS = 50_000
PER_PAGE = 1_000
# below sf0.05 most of a warm gates pass is driver-side planning and job
# scheduling, which a busy host slows far more than work on rows; at
# sf0.05 about half of the pass is work on the rows
GATE_SF = 0.05
# Catalyst gates (aggregate, join, window, time series) and operator gates
# (a FrameMemo-backed pool-cosine top-k, an Arrow text kernel), few and
# small enough that a whole run stays near a minute on four cores
GATES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q_window_moving_sum",
    "q_timeseries_anomaly",
    "op_ann_cosine_topk",
    "op_text_quality_score",
]
# the warm window lasts --seconds but holds at least this many passes, so
# that on a slow machine the settled half still has two
MIN_WARM = 4
# generic Spark jobs run while setting up, before the cold pass
WARM_UP_JOBS = 2
PG_USER_ENV, PG_PASS_ENV = "PERFBENCH_PG_USER", "PERFBENCH_PG_PASS"

SPARK_LAYER = {
    "jobs": "spark.jobs",
    "tasks": "spark.tasks",
    "driver_s": "spark.driver_s",
    "run_s": "spark.executor_run_s",
    "cpu_s": "spark.executor_cpu_s",
    "noncpu_s": "spark.executor_noncpu_s",
    "gc_s": "spark.gc_s",
    "shuffle_read_bytes": "spark.shuffle_read_bytes",
    "shuffle_write_bytes": "spark.shuffle_write_bytes",
    "spill_bytes": "spark.spill_bytes",
}
# the insert module's layers, timed one at a time: their sum sits next
# to pipeline.module_s, where Spark runs them as one job
ISOLATED = (
    "http.page0_schema_s",
    "http.fetch_parse_s",
    "pipeline.transform_s",
    "sink.insert_write_s",
)
LAYER_METRICS = {
    "session.start_s": "s",
    "session.warm_up_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "session.driver_peak_rss_mb": "MB",
    "http.page0_schema_s": "s",
    "http.fetch_parse_s": "s",
    "http.rows_per_s": "1/s",
    "http.pages": "count",
    "http.retries": "count",
    "pgsource.read_s": "s",
    "pgsource.rows_per_s": "1/s",
    "pipeline.render_s": "s",
    "pipeline.transform_s": "s",
    "pipeline.rollup_transform_s": "s",
    "pipeline.module_s": "s",
    "pipeline.isolated_sum_s": "s",
    "sink.prepare_s": "s",
    "sink.insert_write_s": "s",
    "sink.insert_rows_per_s": "1/s",
    "sink.update_write_s": "s",
    "sink.update_rows_per_s": "1/s",
    "pg.rows_inserted": "count",
    "pg.rows_updated": "count",
    "pg.commits": "count",
    "pg.wal_bytes_per_row": "B",
    "pg.update_wal_bytes_per_row": "B",
    **{
        name: ("count" if k in ("jobs", "tasks") else "B" if "bytes" in k else "s")
        for k, name in SPARK_LAYER.items()
    },
    "memo.builds": "count",
    "memo.hits": "count",
    "memo.build_s": "s",
    "trace.overhead_s": "s",
    "passes.warm": "count",
    "failed_ops_ratio": "ratio",
    **{f"gate.{g}.{p}_s": "s" for g in GATES for p in ("cold", "warm")},
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def settled(warm: list) -> list:
    """The later half of the warm passes. The first few still speed up as
    the JIT compiles; a long-lived process runs at what the later ones
    settle to."""
    return warm[len(warm) // 2 :]


class Workload:
    """Set-up, one timed pass, and the output checks of one workload."""

    name = ""
    check_every_pass = True  # else check once, after the last pass

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.rows = 0  # rows landed (ETL) or read (gates) by one pass

    def make_inputs(self) -> None:
        """Build the seeded inputs and expected outputs. Untimed: this is
        the benchmark's work, not the program's set-up."""

    def setup(self) -> None:
        raise NotImplementedError

    def teardown(self) -> None:
        """Stop what set-up started."""

    def before_pass(self) -> None:
        """Untimed preparation before each pass."""

    def run_pass(self, record) -> None:
        """Run one pass; report each operation as ``record(name, ok, s)``."""
        raise NotImplementedError

    def check(self, record) -> None:
        """Check outputs untimed, reporting each check through ``record``."""
        raise NotImplementedError

    def isolated(self, record) -> dict[str, float]:
        """Time the layers one at a time (traced run only)."""
        return {}

    def server_counters(self) -> dict[str, float]:
        """Server-side counters, read untimed right before and after a pass."""
        return {}

    def counters_moved(self, c0: dict, c1: dict) -> dict[str, float]:
        return {}


class EtlHttpMerge(Workload):
    name = "etl_http_merge"
    http_source, pg_source = "lineitem_api", "warehouse_lineitem"
    insert_table, update_table = "lineitem_clean", "order_rollup"

    def __init__(self, *a):
        super().__init__(*a)
        self.pg = LocalPostgres(os.path.join(os.path.dirname(self.work_dir), "pg"))
        self.api = None
        self.cfg = None
        self.cfg_path = os.path.join(self.work_dir, "pipelines.yaml")
        self.expected: dict = {}  # table -> DuckDB's rows, sorted by key
        self.snapshot_cost: dict | None = None  # what reading the counters moves

    # -- inputs and expected outputs -------------------------------------
    def sql(self, table: str, view: str) -> str:
        from apitap_spark.pipeline.templating import render_module

        if table == self.insert_table:
            return render_module(HTTP_MODULES, HTTP_MODULE, {self.http_source: view}).sql
        return render_module(ROLLUP_MODULES, ROLLUP_MODULE, {self.pg_source: view}).sql

    def make_inputs(self) -> None:
        """Seeded rows, the API's pre-serialized pages, and DuckDB's
        result for both modules over the same rows."""
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(self.seed)
        table = datagen.lineitem_table(rng, HTTP_ROWS, HTTP_ROWS // 4, 2_000, 100)
        # a unique row id to MERGE on: (l_orderkey, l_linenumber) repeats,
        # and a last-wins MERGE over repeated keys depends on shuffle order
        table = table.add_column(0, "row_id", pa.array(np.arange(HTTP_ROWS, dtype="int64")))
        rows_path = os.path.join(self.work_dir, "api_rows.parquet")
        pq.write_table(table, rows_path)
        rows = table.to_pylist()
        for r in rows:
            r["l_shipdate"] = r["l_shipdate"].isoformat()
        self.pages_path = os.path.join(self.work_dir, "pages.jsonl")
        with open(self.pages_path, "w") as fh:
            for start in range(0, HTTP_ROWS, PER_PAGE):
                page = {"data": rows[start : start + PER_PAGE], "meta": {"total": HTTP_ROWS}}
                fh.write(json.dumps(page) + "\n")
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW api AS SELECT * FROM read_parquet('{rows_path}')")
            con.execute(f"CREATE TABLE clean AS {self.sql(self.insert_table, 'api')}")
            rollup = f"SELECT * FROM ({self.sql(self.update_table, 'clean')}) ORDER BY 1"
            self.expected = {
                self.insert_table: con.execute("FROM clean ORDER BY 1").fetch_arrow_table(),
                self.update_table: con.execute(rollup).fetch_arrow_table(),
            }
        finally:
            con.close()
        self.rollup_keys = self.expected[self.update_table].column(0).to_pylist()

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        self.api = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "api_server.py"), self.pages_path, str(PER_PAGE)],
            stdout=subprocess.PIPE,
            text=True,
        )
        line = self.api.stdout.readline()
        if not line.startswith("PORT "):
            raise RuntimeError(f"API server did not start: {line!r}")
        self.pg.start()
        self.execute(
            f"DROP TABLE IF EXISTS {self.insert_table}",
            f"DROP TABLE IF EXISTS {self.update_table}",
        )
        config = {
            "sources": [
                {
                    "name": self.http_source,
                    "url": f"http://127.0.0.1:{line.split()[1]}/rows",
                    "data_path": "/data",
                    "pagination": {
                        "type": "page_number",
                        "page_param": "page",
                        "per_page_param": "per_page",
                        "per_page": PER_PAGE,
                        "total_hint": {"kind": "items", "pointer": "/meta/total"},
                    },
                    "retry": {"max_attempts": 3, "min_delay_sec": 0.2, "max_delay_sec": 1},
                    "max_concurrency": 4,
                    "primary_key_in_dest": "row_id",
                },
                {
                    "name": self.pg_source,
                    "kind": "postgres",
                    "dsn": self.pg.dsn,
                    "table": self.insert_table,
                    "partition_column": "l_orderkey",
                    "num_partitions": 4,
                    "primary_key_in_dest": "l_orderkey",
                },
            ],
            "targets": [
                {
                    "name": "warehouse",
                    "kind": "postgres",
                    "host": "127.0.0.1",
                    "port": self.pg.port,
                    "database": "postgres",
                    "username_env": PG_USER_ENV,
                    "password_env": PG_PASS_ENV,
                }
            ],
        }
        with open(self.cfg_path, "w") as fh:
            json.dump(config, fh)  # JSON is YAML
        from apitap_spark.config.models import load_config_from_path

        self.cfg = load_config_from_path(self.cfg_path)

    def teardown(self) -> None:
        api, self.api = self.api, None
        if api is not None:
            api.terminate()
            api.wait(timeout=30)
            api.stdout.close()
        self.pg.stop()

    def execute(self, *statements: str, fetch: bool = False):
        conn = self.pg.connect()
        try:
            cur = conn.cursor()
            for s in statements:
                cur.execute(s)
            rows = cur.fetchall() if fetch else None
            conn.commit()
            return rows
        finally:
            conn.close()

    # -- passes and checks ---------------------------------------------------
    def before_pass(self) -> None:
        # the insert path: every pass lands into an empty table
        (exists,), = self.execute(
            f"SELECT to_regclass('public.{self.insert_table}') IS NOT NULL", fetch=True
        )
        if exists:
            self.execute(f"TRUNCATE TABLE {self.insert_table}")

    def run_pass(self, record) -> None:
        from apitap_spark.pipeline.runner import run_pipeline

        t = time.perf_counter()
        try:
            (stats,) = run_pipeline(self.spark, HTTP_MODULES, self.cfg_path, "warehouse")
        except Exception as exc:  # noqa: BLE001 - a failed module is a failed op
            print(f"{self.name}: pipeline failed: {exc!r}", file=sys.stderr)
            record("module", False, time.perf_counter() - t)
            return
        self.rows = stats.rows_written
        record("module", True, stats.duration_sec)

    def check(self, record, tables=(insert_table,)) -> None:
        """Compare each target, sorted by its key, with DuckDB's result
        over the same rows: same row count and exactly equal values."""
        for table in tables:
            expected = self.expected[table]
            try:
                got = self.table_rows(table, expected.schema)
                ok = got.equals(expected)
            except Exception as exc:  # noqa: BLE001 - an unreadable target fails the check
                got, ok = exc, False
            if not ok:
                print(f"{table}: {got!r:.300} differs from the expected rows", file=sys.stderr)
            record(f"check.{table}", ok, 0.0)

    def table_rows(self, table: str, schema):
        """The table's rows, read back by COPY and typed like ``schema``."""
        import pyarrow.csv as pacsv

        buf = io.BytesIO()
        conn = self.pg.connect()
        try:
            conn.cursor().copy_expert(
                f"COPY (SELECT {', '.join(schema.names)} FROM {table}) "
                "TO STDOUT WITH (FORMAT csv)",
                buf,
            )
            conn.commit()
        finally:
            conn.close()
        buf.seek(0)
        rows = pacsv.read_csv(
            buf,
            read_options=pacsv.ReadOptions(column_names=schema.names),
            convert_options=pacsv.ConvertOptions(column_types=schema),
        )
        return rows.sort_by(schema.names[0])

    def snapshot(self) -> dict[str, float]:
        """Row counts of both targets, server-wide commits and the WAL
        position, read once every other client's backend has exited: a
        backend flushes its statistics as it exits."""
        conn = self.pg.connect()
        try:
            cur = conn.cursor()
            deadline = time.monotonic() + 10
            while True:
                cur.execute("SELECT pg_stat_clear_snapshot()")
                cur.execute(
                    "SELECT count(*) FROM pg_stat_activity "
                    "WHERE backend_type = 'client backend' AND pid <> pg_backend_pid()"
                )
                (others,), = cur.fetchall()
                if not others or time.monotonic() > deadline:
                    break
                time.sleep(0.02)
            cur.execute(
                "SELECT coalesce(sum(n_tup_ins), 0), coalesce(sum(n_tup_upd), 0) "
                "FROM pg_stat_user_tables WHERE relname IN "
                f"('{self.insert_table}', '{self.update_table}')"
            )
            (ins, upd), = cur.fetchall()
            cur.execute(
                "SELECT xact_commit, pg_wal_lsn_diff(pg_current_wal_lsn(), '0/0') "
                "FROM pg_stat_database WHERE datname = 'postgres'"
            )
            (commits, wal), = cur.fetchall()
            conn.commit()
        finally:
            conn.close()
        return {"ins": float(ins), "upd": float(upd), "commits": float(commits), "wal": float(wal)}

    def server_counters(self) -> dict[str, float]:
        if self.snapshot_cost is None:
            a, b = self.snapshot(), self.snapshot()
            self.snapshot_cost = {k: b[k] - a[k] for k in a}
        return self.snapshot()

    def counters_moved(self, c0: dict, c1: dict) -> dict[str, float]:
        """What happened on the server between two snapshots, less what
        the first snapshot's own transaction moved."""
        return {k: c1[k] - c0[k] - self.snapshot_cost[k] for k in c0}

    # -- one layer at a time ---------------------------------------------------
    def isolated(self, record) -> dict[str, float]:
        """Spark is lazy: in a module, fetch, SQL and MERGE run as one job.
        Here extract runs alone (to the noop sink), the transform runs over
        a cached source, and the MERGE writes a cached result. The same is
        done for the warehouse read-back: the ``kind: postgres`` source
        over the landed table, and a rollup MERGEd into a table that
        already holds every key (the update path)."""
        from apitap_spark.pipeline.runner import _register_pg_source

        out = {}
        src = self.cfg.source(self.http_source).to_http_source()
        t = time.perf_counter()
        df = src.load(self.spark)
        out["http.page0_schema_s"] = time.perf_counter() - t
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out["http.fetch_parse_s"] = time.perf_counter() - t
        st = src.stats()
        out["http.pages"], out["http.retries"] = st.pages, st.retries
        out["http.rows_per_s"] = st.rows / out["http.fetch_parse_s"]
        self.before_pass()
        out["pipeline.transform_s"], n0 = self.transform_and_write(df, self.insert_table, out)

        keys = ",".join(map(str, self.rollup_keys))
        self.execute(
            f"CREATE TABLE {self.update_table} (l_orderkey BIGINT PRIMARY KEY, "
            "n_lines BIGINT, quantity NUMERIC(18,2), gross NUMERIC(18,2), "
            "max_discount DOUBLE PRECISION, n_filled BIGINT)",
            f"INSERT INTO {self.update_table} SELECT k, 0, 0, 0, 0, 0 "
            f"FROM unnest('{{{keys}}}'::bigint[]) AS k",
        )
        df = _register_pg_source(
            self.spark, self.cfg.source(self.pg_source), "perfbench_pg_source"
        )
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out["pgsource.read_s"] = time.perf_counter() - t
        out["pgsource.rows_per_s"] = n0 / out["pgsource.read_s"]
        out["pipeline.rollup_transform_s"], n1 = self.transform_and_write(
            df, self.update_table, out
        )
        self.check(record, (self.insert_table, self.update_table))
        return out

    def transform_and_write(self, source_df, table: str, out: dict):
        from apitap_spark.pipeline.runner import _writer_for
        from apitap_spark.sinks.jdbc_merge import WriteMode

        path = "insert" if table == self.insert_table else "update"
        cached = source_df.persist()
        cached.count()
        cached.createOrReplaceTempView("perfbench_cached_source")
        sql = self.sql(table, "perfbench_cached_source")
        t = time.perf_counter()
        self.spark.sql(sql).write.format("noop").mode("overwrite").save()
        transform_s = time.perf_counter() - t
        result = self.spark.sql(sql).persist()
        n = result.count()
        source = self.http_source if path == "insert" else self.pg_source
        writer = _writer_for(
            self.cfg, "warehouse", table, self.cfg.source(source).primary_key,
            WriteMode.MERGE,
        )
        c0 = self.server_counters()
        t = time.perf_counter()
        writer.write(result)
        out[f"sink.{path}_write_s"] = time.perf_counter() - t
        if path == "update":
            moved = self.counters_moved(c0, self.server_counters())
            out["pg.rows_updated"] = moved["upd"]
            out["pg.update_wal_bytes_per_row"] = moved["wal"] / n
        out[f"sink.{path}_rows_per_s"] = n / out[f"sink.{path}_write_s"]
        result.unpersist()
        cached.unpersist()
        return transform_s, n


class Gates(Workload):
    name = "gates"
    check_every_pass = False

    def __init__(self, *a):
        super().__init__(*a)
        self.data_dir = os.path.join(self.work_dir, "tables")

    def make_inputs(self) -> None:
        counts = datagen.write_tables(self.data_dir, self.seed, GATE_SF)
        self.rows = sum(counts.values())

    def setup(self) -> None:
        import __spark_entry__

        queries, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
        self.fns = {g: queries[g] for g in GATES}
        self.oracles = {g: oracles[g] for g in GATES}

    def run_pass(self, record) -> None:
        from apitap_spark.session import release_persisted

        for name, fn in self.fns.items():
            t = time.perf_counter()
            try:
                fn(self.spark, self.data_dir).write.format("noop").mode("overwrite").save()
                ok = True
            except Exception as exc:  # noqa: BLE001 - a failed gate is a failed op
                print(f"gate {name} failed: {exc!r}", file=sys.stderr)
                ok = False
            record(name, ok, time.perf_counter() - t)
            release_persisted(self.spark)

    def check(self, record) -> None:
        from apitap_spark.session import release_persisted
        from tests.oracle_harness import compare, duck_connection

        con = duck_connection(self.data_dir)
        try:
            for name, fn in self.fns.items():
                try:
                    cur = con.execute(self.oracles[name])
                    expected = (cur.fetchall(), [d[0] for d in cur.description])
                    res = compare(name, fn(self.spark, self.data_dir), expected)
                    if not res.ok:
                        print(f"gate {name}: {res.issues[:3]}", file=sys.stderr)
                    ok = res.ok
                except Exception as exc:  # noqa: BLE001 - a failed check is a failed op
                    print(f"gate {name} check failed: {exc!r}", file=sys.stderr)
                    ok = False
                record(f"check.{name}", ok, 0.0)
                release_persisted(self.spark)
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (EtlHttpMerge, Gates)}


class Runner:
    """Times set-up, the cold pass and the warm passes of one workload."""

    def __init__(self, name: str, seed: int, seconds: float, trace: bool,
                 build_dir: str, t_process: float):
        self.name, self.seed, self.seconds, self.trace = name, seed, seconds, trace
        self.t_process = t_process
        self.work_dir = os.path.join(build_dir, f"{name}-{seed}-{os.getpid()}")
        self.trace_path = os.path.join(build_dir, f"trace-{name}-{seed}.json")
        self.tracer = Tracer()
        self.memo_build_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.op_times: dict[str, list[float]] = {}

    def log(self, msg: str) -> None:
        print(f"[{time.perf_counter() - self.t_process:7.2f}s] {self.name}: {msg}",
              file=sys.stderr, flush=True)

    def record(self, op: str, ok: bool, seconds: float) -> None:
        self.attempted += 1
        self.failed += not ok
        self.op_times.setdefault(op, []).append(seconds)

    def patch(self) -> None:
        """Wrap the layers' public functions in spans (traced run only)."""
        from apitap_spark.pipeline import runner
        from apitap_spark.session import MEMO_COUNTERS, FrameMemo
        from apitap_spark.sinks.jdbc_merge import JdbcMergeWriter

        tr = self.tracer
        tr.wrap(runner, "render_module", "pipeline.render")
        tr.wrap(runner, "run_module", "pipeline.module")
        tr.wrap(JdbcMergeWriter, "prepare", "sink.prepare")
        get = FrameMemo.get
        depth = [0]

        def timed_get(memo, *a, **kw):
            # a build's time is that of the outermost get() that built
            builds, t = MEMO_COUNTERS["builds"], time.perf_counter()
            depth[0] += 1
            try:
                return get(memo, *a, **kw)
            finally:
                depth[0] -= 1
                if depth[0] == 0 and MEMO_COUNTERS["builds"] > builds:
                    self.memo_build_s += time.perf_counter() - t

        tr.replace(FrameMemo, "get", timed_get)

    def run(self) -> dict:
        from apitap_spark.session import MEMO_COUNTERS, get_session

        os.makedirs(self.work_dir, exist_ok=True)
        steal0, total0 = cpu_ticks()
        t = time.perf_counter()
        spark = get_session(app_name=f"perfbench-{self.name}", master="local[4]")
        session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        t = time.perf_counter()
        warm_up(spark)
        warm_up_s = time.perf_counter() - t
        launch_s = time.perf_counter() - self.t_process
        self.log(f"session ready, get_session took {session_s:.2f}s, warm-up {warm_up_s:.2f}s")
        w = WORKLOADS[self.name](spark, self.seed, self.work_dir)
        if self.trace:
            self.patch()
        passes, isolated = [], {}
        memo0 = dict(MEMO_COUNTERS)
        try:
            w.make_inputs()
            t = time.perf_counter()
            w.setup()
            setup_s = launch_s + time.perf_counter() - t
            self.log(f"set-up took {setup_s - launch_s:.2f}s")
            self.one_pass(spark, w, passes)  # the cold pass
            t_window = time.perf_counter()
            while len(passes) <= MIN_WARM or time.perf_counter() - t_window < self.seconds:
                self.one_pass(spark, w, passes)
            if not w.check_every_pass:
                w.check(self.record)
            if self.trace:
                isolated = w.isolated(self.record)
            self.log("checked")
            rss_jvm = peak_rss_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
            rss_py = peak_rss_mb()
        finally:
            try:
                w.teardown()
            finally:
                self.tracer.unpatch()
                stop_spark(spark)
                shutil.rmtree(self.work_dir, ignore_errors=True)
                steal1, total1 = cpu_ticks()
                self.log(f"stopped; the host stole {(steal1 - steal0) / (total1 - total0):.1%} "
                         "of CPU time during the run")
        if isinstance(w, Gates):
            # per gate, so that one gate's stall in one pass moves one term
            warm_s = sum(median(settled(self.op_times[g][1:])) for g in GATES)
        else:
            warm_s = median(settled([p["wall"] for p in passes[1:]]))
        result = {"correct": self.failed == 0, "attempted": self.attempted, "failed": self.failed}
        if not self.trace:
            result["metrics"] = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "cold_pass_s": {"value": passes[0]["wall"], "unit": "s"},
                "warm_pass_s": {"value": warm_s, "unit": "s"},
                "rows_per_s": {"value": w.rows / warm_s, "unit": "1/s"},
            }
            return result
        self.tracer.dump(self.trace_path)
        layers = {
            "session.start_s": session_s,
            "session.warm_up_s": warm_up_s,
            "session.jvm_peak_rss_mb": rss_jvm,
            "session.driver_peak_rss_mb": rss_py,
            "memo.builds": MEMO_COUNTERS["builds"] - memo0["builds"],
            "memo.hits": MEMO_COUNTERS["hits"] - memo0["hits"],
            "memo.build_s": self.memo_build_s,
            "failed_ops_ratio": self.failed / max(1, self.attempted),
            **self.pass_layers(w, passes[1:]),
            **isolated,
        }
        if isolated:
            layers["pipeline.isolated_sum_s"] = sum(isolated[k] for k in ISOLATED)
        result["metrics"] = {
            k: {"value": float(layers.get(k, 0.0)), "unit": u}
            for k, u in LAYER_METRICS.items()
        }
        return result

    def one_pass(self, spark, w: Workload, passes: list) -> None:
        passes.append(self.timed_pass(spark, w, len(passes)))
        self.log(f"pass {len(passes) - 1} took {passes[-1]['wall']:.2f}s")
        if w.check_every_pass:
            w.check(self.record)

    def timed_pass(self, spark, w: Workload, i: int) -> dict:
        """One pass under its own job group. In a traced run the cold pass
        and every other warm pass record spans; the rest run untraced, so
        the run also measures what tracing costs."""
        group = f"perfbench-pass-{i}"
        traced = self.trace and (i == 0 or i % 2 == 1)
        w.before_pass()
        c0 = w.server_counters() if self.trace else {}
        spark.sparkContext.setJobGroup(group, group)
        self.tracer.enabled, self.tracer.trace_id = traced, group
        t = time.perf_counter()
        w.run_pass(self.record)
        wall = time.perf_counter() - t
        self.tracer.enabled = False
        spark.sparkContext.setJobGroup("perfbench-untimed", "untimed")
        out = {"wall": wall, "traced": traced, "group": group}
        if self.trace:
            out["server"] = w.counters_moved(c0, w.server_counters())
        if traced:
            out["spark"] = job_group_metrics(spark, group, wall)
        return out

    def pass_layers(self, w, warm) -> dict:
        """Per-layer medians over the traced warm passes; server counters
        over all warm passes."""
        tr = self.tracer
        traced = [p for p in warm if p["traced"]]
        plain = [p for p in warm if not p["traced"]]

        def per_pass(span: str) -> float:
            return median([tr.total(span, p["group"]) for p in traced])

        out = {
            "passes.warm": len(warm),
            "trace.overhead_s": median([p["wall"] for p in traced])
            - median([p["wall"] for p in plain]),
        }
        for key, name in SPARK_LAYER.items():
            out[name] = median([p["spark"][key] for p in traced])
        if isinstance(w, EtlHttpMerge):
            out.update({
                "pipeline.render_s": per_pass("pipeline.render"),
                "pipeline.module_s": per_pass("pipeline.module"),
                "sink.prepare_s": per_pass("sink.prepare"),
            })
            out["pg.rows_inserted"] = median([p["server"]["ins"] for p in warm])
            out["pg.commits"] = median([p["server"]["commits"] for p in warm])
            out["pg.wal_bytes_per_row"] = median([p["server"]["wal"] for p in warm]) / w.rows
        else:
            for g in GATES:
                times = self.op_times.get(g, [])
                if times:
                    out[f"gate.{g}.cold_s"] = times[0]
                    out[f"gate.{g}.warm_s"] = median(times[1:])
        return out


def warm_up(spark) -> None:
    """Run a generic Spark SQL job ``WARM_UP_JOBS`` times, untimed by any
    pass but inside ``setup_s``. A fresh JVM loads and compiles Spark's own
    parser, optimizer, code generator and shuffle on its first job, and how
    long that takes swings with how busy the host's cores are. The job
    touches none of the program's code and starts no Python worker, so
    what the program's first pass costs on its own stays in
    ``cold_pass_s``."""
    spark.sparkContext.setJobGroup("perfbench-untimed", "untimed")
    for _ in range(WARM_UP_JOBS):
        (
            spark.range(0, 400_000, 1, 4)
            .selectExpr("id % 1009 AS k", "id * 3 AS v", "cast(id AS string) AS s")
            .groupBy("k")
            .agg({"v": "sum", "s": "max"})
            .write.format("noop")
            .mode("overwrite")
            .save()
        )


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
