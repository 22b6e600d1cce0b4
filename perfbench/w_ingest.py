"""ingest_landing: the landing zone, one landed batch at a time.

Closed loop, one client: land a batch of API pages -> zoom_tables
(history) + monkey_tables -> write_versioned (append) per table ->
write_jdbc of meetings to embedded Derby -> merge_versioned of a
re-landed, overlapping slice keyed on meet_uuid. The batch's event file
lands with its API pages, and the batch ends when the streaming leg
(stream_leg.py) has committed it and the windows it closes.

Before the measured batches, one small batch (``WARM_SCALE``) runs
through the same path on tables of its own: it pays the pipeline's
first-use code generation, JIT and class loading, and counts toward
set-up, so a measured batch pays only the program's per-batch work.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from . import gen
from .common import median, now, settle, table_arrow
from .stream_leg import StreamLeg

DERBY = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
MERGE_KEY = "meet_uuid"
WARM_SCALE = 0.1


def _data_bytes(table_dir: str) -> int:
    from datalake_scripts_spark.operators import versioned as V

    return sum(os.path.getsize(os.path.join(table_dir, f)) for f in V.files_for_read(table_dir))


def _file_rows(table_dir: str, files) -> int:
    return sum(pq.ParquetFile(os.path.join(table_dir, f)).metadata.num_rows for f in files)


def _new_files(table_dir: str, version: int) -> set[str]:
    from datalake_scripts_spark.operators import versioned as V

    before = set(V.files_for_read(table_dir, version - 1)) if version > 1 else set()
    return set(V.files_for_read(table_dir, version)) - before


class Ingest:
    def __init__(self, ctx, name: str, scale: float):
        self.ctx = ctx
        self.spark = ctx.spark
        self.scale = scale
        self.base = os.path.join(ctx.work, name)
        self.staging = os.path.join(self.base, "staging")
        self.derby = os.path.join(self.base, "serving")
        self.jdbc_table = "MEETINGS"
        self.batch_no = 0
        self.landed: list[dict] = []  # every meeting landed so far
        self.appended: dict[str, int] = {}  # table -> rows appended so far
        self.merge_inserted = 0
        self.stream = StreamLeg(ctx, self.base)
        self.latencies: list[float] = []

    def table_dir(self, t: str) -> str:
        return os.path.join(self.staging, t)

    def batch(self) -> dict:
        """Run one batch; returns {op_s, items, ok, layer}."""
        from datalake_scripts_spark.io import read_json, write_jdbc
        from datalake_scripts_spark.operators import versioned as V
        from datalake_scripts_spark.plans import monkey, schemas, zoom

        ctx, spark, tr = self.ctx, self.spark, self.ctx.trace
        b = self.batch_no
        self.batch_no += 1
        land = gen.land_batch(ctx.seed, b, os.path.join(self.base, "landing", f"b{b:04d}"),
                              self.scale, prev_meetings=self.landed[-60:])
        d = land["dirs"]
        globs = {
            "meetings": f"{d['zoom_meetings']}/*.json",
            "participants": f"{d['zoom_participants']}/*.json",
            "details": f"{d['monkey_details']}/*.json",
            "responses": f"{d['monkey_responses']}/*.json",
        }
        layer: dict[str, float] = {}
        if tr.enabled:
            v0 = {t: V.current_version(self.table_dir(t)) for t in self.appended or ()}
            jdbc0 = self.derby_count() if self.appended else 0
            sink0 = self.stream.rows()

        t0, c0 = now(), ctx.cpu()
        # the batch's event file lands with its API pages; the stream
        # commits it while the batch runs
        drop = self.stream.land(b)
        with tr.span("plans.call"):
            tables = zoom.zoom_tables(spark, globs["meetings"], globs["participants"],
                                      history=True)
            tables.update(monkey.monkey_tables(spark, globs["details"], globs["responses"]))
        if tr.enabled:
            with tr.span("plans.materialize"):
                rows = {t: df.count() for t, df in tables.items()}
            layer["plans.rows_per_doc"] = sum(rows.values()) / land["docs"]
            files = 0
            with tr.span("io.read_json"):
                for g, sch in ((globs["meetings"], schemas.ZOOM_MEETINGS),
                               (globs["participants"], schemas.ZOOM_PARTICIPANTS),
                               (globs["details"], schemas.MONKEY_SURVEY),
                               (globs["responses"], schemas.MONKEY_RESPONSES)):
                    df = read_json(spark, g, schema=sch)
                    files += len(df.inputFiles())
                    df.count()
            layer["io.files_listed"] = files

        versions = {}
        with tr.span("versioned.write"):
            for t, df in tables.items():
                versions[t] = V.write_versioned(spark, df, self.table_dir(t), mode="append")
        with tr.span("io.write_jdbc"):
            write_jdbc(tables["meetings"], f"jdbc:derby:{self.derby};create=true",
                       self.jdbc_table, mode="append", properties=DERBY)
        mdir = self.table_dir("meetings")
        pre_merge = set(V.files_for_read(mdir)) if tr.enabled else None
        with tr.span("versioned.merge"):
            src = zoom.meetings_table(spark, f"{d['reland']}/*.json").select(
                *zoom.MEETINGS_COLS).withColumn("load_datetime", F.current_timestamp())
            cols = zoom.MEETINGS_COLS + ["load_datetime"]
            V.merge_versioned(spark, mdir, src, on=[MERGE_KEY],
                              when_matched_update={c: f"s.{c}" for c in cols},
                              when_not_matched_insert=True)
        self.latencies.append(self.stream.wait(drop))
        op_s, cpu_s = now() - t0, ctx.cpu() - c0

        if tr.enabled:
            post_merge = set(V.files_for_read(mdir))
            layer["versioned.files_written"] = (
                sum(len(_new_files(self.table_dir(t), v)) for t, v in versions.items())
                + len(post_merge - pre_merge))
            layer["versioned.commits"] = sum(
                V.current_version(self.table_dir(t)) - v0.get(t, 0) for t in tables)
            layer["versioned.merge_touched_file_ratio"] = (
                len(pre_merge - post_merge) / max(1, len(pre_merge)))
            total_rows = sum(V.snapshot_row_count(self.table_dir(t)) for t in tables)
            layer["versioned.bytes_per_row"] = (
                sum(_data_bytes(self.table_dir(t)) for t in tables) / max(1, total_rows))
            layer["io.jdbc_rows"] = self.derby_count() - jdbc0
            layer["sinks.rows_committed"] = self.stream.rows() - sink0

        ok = self.check(land, versions) and self.stream.check_closed()
        self.landed.extend(land["meetings"])
        items = sum(land["expected"].values()) + len(land["merge"]["inserted"])
        return {"op_s": op_s, "cpu_s": cpu_s, "items": items, "ok": ok, "layer": layer,
                "files": land["files"], "bytes": land["bytes"]}

    def check(self, land: dict, versions: dict) -> bool:
        """Rows appended per table equal the generator's counts; Derby
        holds every appended meeting; after the merge the keys are unique
        and hold the re-landed values. Reads the files and Derby
        directly, not through Spark."""
        ok = True
        for t, v in versions.items():
            got = _file_rows(self.table_dir(t), _new_files(self.table_dir(t), v))
            self.appended[t] = self.appended.get(t, 0) + land["expected"][t]
            if got != land["expected"][t]:
                self.ctx.log(f"gate: {t} appended {got} rows, expected {land['expected'][t]}")
                ok = False
        n_derby = self.derby_count()
        if n_derby != self.appended["meetings"]:
            self.ctx.log(f"gate: derby has {n_derby} meetings, "
                         f"expected {self.appended['meetings']}")
            ok = False
        return self.check_merge(land["merge"]) and ok

    def derby_count(self) -> int:
        """COUNT(*) over the serving table through the JVM's JDBC driver
        manager (embedded Derby runs inside the driver JVM)."""
        jvm = self.spark.sparkContext._jvm
        conn = jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{self.derby}")
        try:
            rs = conn.createStatement().executeQuery(f"SELECT COUNT(*) FROM {self.jdbc_table}")
            rs.next()
            return int(rs.getLong(1))
        finally:
            conn.close()

    def check_merge(self, merge: dict) -> bool:
        self.merge_inserted += len(merge["inserted"])
        tbl = table_arrow(self.table_dir("meetings"),
                          columns=[MERGE_KEY, "meet_topic", "meet_duration"])
        keys = tbl.column(MERGE_KEY)
        n, n_keys = tbl.num_rows, len(pc.unique(keys))
        expect_n = self.appended["meetings"] + self.merge_inserted
        want = {**merge["updated"], **merge["inserted"]}
        hit = tbl.filter(pc.is_in(keys, value_set=pa.array(list(want), pa.string())))
        got = dict(zip(hit.column(0).to_pylist(),
                       zip(hit.column(1).to_pylist(), hit.column(2).to_pylist())))
        if n != n_keys or n != expect_n:
            self.ctx.log(f"gate: meetings rows {n}, keys {n_keys}, expected {expect_n}")
            return False
        if got != want:
            bad = sorted(k for k in want if got.get(k) != want[k])[:3]
            self.ctx.log(f"gate: merged values differ for {len(bad)}+ keys, e.g. {bad}")
            return False
        return True


def _batches(ctx, name: str, scale: float, seconds: float, measured: bool) -> list[dict]:
    """Batches until ``seconds`` have passed (at least one), then, if
    ``measured``, the streaming leg's end-of-run check; a failed stream
    check fails every batch, since each batch's events are in the
    checked table."""
    w = Ingest(ctx, name, scale)
    w.stream.start()
    try:
        ops = []
        t_end = now() + seconds
        while not ops or now() < t_end:
            if measured:
                ctx.trace.op = len(ops)
                settle(ctx.spark)
            ops.append(ctx.guard(w.batch))
        if measured and ctx.trace.enabled:
            ops[-1]["layer"].update(w.stream.progress_layer(w.latencies))
        if measured and not w.stream.finish():
            for op in ops:
                op["ok"] = False
    finally:
        w.stream.stop()
    return ops


def warm(ctx) -> list[dict]:
    """One small batch on tables of its own."""
    return _batches(ctx, "warm", min(WARM_SCALE, ctx.scale), 0, measured=False)


def run(ctx) -> dict:
    ops = _batches(ctx, "main", ctx.scale, ctx.seconds, measured=True)
    return {"ops": ops, "inputs": {
        "batches": len(ops), "files_per_batch": median([op.get("files", 0) for op in ops]),
        "bytes_per_batch": median([op.get("bytes", 0) for op in ops]),
        "event_files_per_batch": 1,
        "events_per_batch": gen.EVENTS["chunks_per_batch"] * gen.EVENTS["events_per_chunk"],
        "late_share": gen.EVENTS["late_share"], "dup_share": gen.EVENTS["dup_share"]}}
