"""The three workloads: what one operation does, and how outputs are checked.

- ``catalog_build`` / ``catalog_exec``: one operation is one catalog
  query: build the DataFrame (``QUERIES[name](spark, dir)``, including the
  jobs its barriers and samplers fire), force Catalyst planning, then run
  the action into the noop sink. Each phase runs under its own job group.
- ``supplier_batch``: one operation is one vendor end to end: the
  runner on its drop folder, the sheet_bot tick over the control grid and
  PO-PDF drop, the PDF merge, and the mail request. The whole operation
  runs under one job group.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

from sparkstats import Counters
from spans import Tracer

import checks
import gen


@dataclass
class Op:
    member: str
    op_id: int
    pass_no: int
    traced: bool
    collect: bool = False  # catalog: collect the result instead of the noop sink
    latency: float = 0.0
    py_cpu: float = 0.0
    # job-group phase -> counters ('build', 'plan', 'exec'; 'exec' only
    # for supplier_batch)
    counters: dict[str, Counters] = field(default_factory=dict)
    joins: tuple[int, int] = (0, 0)
    bytes_written: int = 0
    polls: int = 0
    error: str | None = None
    result: object = None


class Env:
    """What every workload shares: the session, the work directory, the
    status-store reader and the tracer."""

    def __init__(self, spark, work: str, status, tracer: Tracer) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.status = status
        self.tracer = tracer

    def group(self, op: Op, phase: str) -> str:
        gid = f"op{op.op_id}-{phase}"
        self.sc.setJobGroup(gid, f"{op.member} {phase}")
        return gid


# --------------------------------------------------------------------------
# catalog
# --------------------------------------------------------------------------

# catalog_build is bound by per-job overhead at any size, so its tables
# stay small; catalog_exec's are large enough that the action's scans,
# joins and aggregations, not job scheduling, take most of each query
TABLE_SCALES = {
    "catalog_build": gen.TableScale(orders=5000, parts=1000, suppliers=100, customers=1500, embeddings=500),
    "catalog_exec": gen.TableScale(orders=60000, parts=8000, suppliers=400, customers=6000, embeddings=100),
}


class Catalog:
    def __init__(self, env: Env, members: tuple[str, ...], scale: gen.TableScale) -> None:
        self.env = env
        self.members = members
        self.scale = scale
        self.tables = os.path.join(env.work, "tables")

    def setup(self, seed: int) -> None:
        gen.write_tables(seed, self.scale, self.tables)

    def install_spans(self) -> None:
        """Catalog spans are opened by ``run`` itself."""

    def run(self, op: Op) -> None:
        from etl_jetro_spark.plans.queries import QUERIES

        env, tr = self.env, self.env.tracer
        spark = env.spark
        groups = {}
        cpu0 = time.process_time()
        t0 = time.perf_counter()
        try:
            with tr.span("op", op.op_id):
                groups["build"] = env.group(op, "build")
                with tr.span("plans.build"):
                    df = QUERIES[op.member](spark, self.tables)
                groups["plan"] = env.group(op, "plan")
                with tr.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
                mark = env.status.sql_mark() if op.traced else None
                groups["exec"] = env.group(op, "exec")
                with tr.span("spark.exec"):
                    if op.collect:
                        op.result = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # an operation failure is counted, not fatal
            op.error = f"{type(e).__name__}: {e}"
            traceback.print_exc()
        finally:
            op.latency = time.perf_counter() - t0
            op.py_cpu = time.process_time() - cpu0
            env.sc.setJobGroup("bench", "between operations")
        if op.error is None and mark is not None:
            op.joins = env.status.join_counts(mark)
        op.counters = {ph: env.status.group(g) for ph, g in groups.items()}

    def check(self, ops: list[Op]) -> dict[str, list[str]]:
        """Each member's collected output (``Op.collect``) against its
        DuckDB oracle on the same tables."""
        import duckdb
        from etl_jetro_spark.plans.queries import ORACLES

        got = {op.member: op.result for op in ops if op.result is not None}
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for t in gen.TABLE_NAMES:
                path = os.path.join(self.tables, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            out = {}
            for name in self.members:
                if name not in got:
                    out[name] = ["no collected output"]
                    continue
                try:
                    out[name] = checks.compare_frames(got[name], con.sql(ORACLES[name]).df())
                except duckdb.Error as e:
                    out[name] = [f"oracle failed: {e}"]
            return out
        finally:
            con.close()


# --------------------------------------------------------------------------
# supplier_batch
# --------------------------------------------------------------------------


class SupplierBatch:
    def __init__(self, env: Env) -> None:
        self.env = env
        self.members = tuple(v[0] for v in gen.VENDORS)
        self.cases: dict[str, gen.VendorCase] = {}

    def setup(self, seed: int) -> None:
        cases = gen.make_vendor_cases(seed, os.path.join(self.env.work, "cases"))
        self.cases = {c.runner: c for c in cases}

    def install_spans(self) -> None:
        """Wrap the names ``pipelines.runner`` and the operation call, and
        the DataFrame actions the engine's sinks run."""
        from etl_jetro_spark.pipelines import batch, runner
        from etl_jetro_spark.sinks import notify, pdf
        from etl_jetro_spark.sources import csv_po, json_dim
        from etl_jetro_spark.streaming import orchestrator, snapshot
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        tr = self.env.tracer
        for name in ("collect", "count", "toPandas"):
            tr.wrap_action(DataFrame, name, lambda df: df._jdf)
        tr.wrap_action(DataFrameWriter, "parquet", lambda w: w._df._jdf)
        for name in ("read_allocation_pricesheet", "read_single_with_token"):
            tr.wrap(runner, name, "sources.read")
        tr.wrap(csv_po, "read_latest_po_csv", "sources.read")
        tr.wrap(json_dim, "read_carrier_json", "sources.read")
        for name in dir(batch):
            if name.startswith("clean_") or name in ("split_big_and_baby", "build_flips_store_block"):
                tr.wrap(batch, name, "normalize.clean")
            elif name.startswith("build_") and name != "build_baby_audit_manifest":
                tr.wrap(batch, name, "pipelines.build")
        tr.wrap(runner, "write_canonical", "sinks.canonical")
        tr.wrap(runner, "render_adpo_x", "sinks.macro")
        tr.wrap(runner, "render_dlpm", "sinks.macro")
        tr.wrap(orchestrator, "orchestrate_tick", "streaming.tick")
        tr.count_calls(snapshot, "poll_step", "streaming.polls")
        tr.wrap(pdf, "combine_pdfs", "sinks.pdf")
        tr.wrap(notify, "status_update_payload", "sinks.notify")
        tr.wrap(notify, "generate_body", "sinks.notify")
        tr.wrap(notify, "build_send_mail_request", "sinks.notify")

    def _dirs(self, op: Op) -> tuple[str, str, str]:
        base = os.path.join(self.env.work, "ops", f"op{op.op_id}")
        return os.path.join(base, "out"), os.path.join(base, "watch"), os.path.join(base, "sent")

    def prepare(self, op: Op) -> None:
        """Untimed: a fresh PO drop and Sent folder for this operation."""
        case = self.cases[op.member]
        out, watch, sent = self._dirs(op)
        for d, files in ((watch, case.watch_files), (sent, case.predelivered)):
            os.makedirs(d)
            for name, data in files.items():
                with open(os.path.join(d, name), "wb") as fh:
                    fh.write(data)
        os.makedirs(out)

    def run(self, op: Op) -> None:
        from etl_jetro_spark.pipelines import runner
        from etl_jetro_spark.sinks import notify, pdf
        from etl_jetro_spark.streaming import orchestrator

        env, tr = self.env, self.env.tracer
        spark = env.spark
        case = self.cases[op.member]
        out, watch, sent = self._dirs(op)
        self.prepare(op)
        polls0 = tr.counts["streaming.polls"]
        mark = env.status.sql_mark() if op.traced else None
        group = env.group(op, "exec")
        cpu0 = time.process_time()
        t0 = time.perf_counter()
        try:
            with tr.span("op", op.op_id):
                if case.runner == "247":
                    manifest = runner.run_247(spark, case.drop, out, gen.RUN_DATE, initials="JS")
                elif case.runner == "leavins":
                    manifest = runner.run_leavins(spark, case.drop, out, gen.RUN_DATE, gen.LEAVINS_EDD)
                elif case.runner == "flips_baby":
                    manifest = runner.run_flips_baby(spark, case.drop, case.po_dir, case.carrier_dir, out)
                else:
                    run = getattr(runner, f"run_{case.runner}")
                    manifest = run(spark, case.drop, out, gen.RUN_DATE)
                tick = orchestrator.orchestrate_tick(spark, case.control_grid, [watch], sent, deadline_polls=3)
                merged = pdf.combine_pdfs(sent, out, gen.RUN_DATE)
                with open(merged, "rb") as fh:
                    data = fh.read()
                done = sorted(po for po, s in tick["po_status"].items() if s == "done")
                mail = notify.build_send_mail_request(
                    f"Purchase orders for vendor {case.vendor}",
                    notify.generate_body(done),
                    to=[f"orders@vendor{case.vendor}.example.com"],
                    cc=["buyer@example.com"],
                    default_cc=["Buyer@example.com"],
                    attachments=[(os.path.basename(merged), data)],
                )
            op.result = {"manifest": manifest, "tick": tick, "merged": merged, "mail": mail}
        except Exception as e:  # an operation failure is counted, not fatal
            op.error = f"{type(e).__name__}: {e}"
            traceback.print_exc()
        finally:
            op.latency = time.perf_counter() - t0
            op.py_cpu = time.process_time() - cpu0
            env.sc.setJobGroup("bench", "between operations")
        op.polls = tr.counts["streaming.polls"] - polls0
        op.counters = {"exec": env.status.group(group)}
        if mark is not None:
            op.joins = env.status.join_counts(mark)
        op.bytes_written = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(out) for f in fs
        )

    def check(self, ops: list[Op]) -> dict[int, list[str]]:
        """Per timed operation, against the values its case was generated
        with (warm-up artifacts are gone by then)."""
        return {
            op.op_id: checks.check_vendor(self.cases[op.member], op.result)
            for op in ops
            if op.pass_no >= 0 and op.error is None
        }

    def cleanup_all(self) -> None:
        """Drop every operation's artifacts (after they were checked)."""
        shutil.rmtree(os.path.join(self.env.work, "ops"), ignore_errors=True)
