"""The landing zone's streaming leg: event files land next to the API
pages and a long-running query commits them to a versioned table.

stream_from_directory -> tumbling_agg -> foreachBatch(
sinks.foreach_batch_versioned). Each ingest batch drops its event file
when its API pages land and, after its tables are committed, waits
until the micro-batch that read it has committed, so a slower
streaming layer can lengthen the batch. A batch's events advance event time past the watermark, so the
windows it closes are written inside the batch; after each batch the
window table must hold exactly the windows the watermark has closed, as
a batch recomputation over the same files gives them. At the end of a
run one far-future event closes every window and the whole table must
equal the recomputation.
"""

from __future__ import annotations

import glob
import json
import os
import time
from urllib.parse import urlparse

from . import gen
from .common import median, table_arrow

FLUSH = {"event_id": -1, "ts": "2030-01-01T00:00:00.000000Z", "user_id": 0,
         "event_type": "flush", "value": 0.0, "props": "{}"}


def write_events(out: str, k: int, rows: list[dict]) -> dict:
    """Write then rename, so the file source never lists a partial file."""
    path = os.path.join(out, f"events_{k:06d}.json")
    tmp = os.path.join(os.path.dirname(out), f".events_{k:06d}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    os.rename(tmp, path)
    return {"k": k, "path": path, "wrote": time.time(), "bytes": os.path.getsize(path)}


WINDOW_COLS = ["window_start", "event_type", "n_events", "sum_value"]


def expected_windows(paths: list[str], closed_only: bool = False) -> list[tuple]:
    """Batch recomputation of the window table over the same files, in
    DuckDB: (window start in epoch microseconds, type, count, sum). With
    ``closed_only``, only the windows a correct watermark has closed:
    those ending by the newest event time (in whole milliseconds, as
    Spark keeps it) minus the watermark delay."""
    import duckdb

    width = _seconds(gen.EVENTS["window"])
    files = ", ".join(f"'{p}'" for p in paths)
    con = duckdb.connect()
    try:
        con.sql(f"""CREATE VIEW ev AS SELECT * FROM read_json(
            [{files}], format='newline_delimited',
            columns={{'ts': 'TIMESTAMPTZ', 'event_type': 'VARCHAR', 'value': 'DOUBLE'}})""")
        rows = sorted(con.sql(f"""
            SELECT CAST(floor(epoch(ts) / {width}) * {width} AS BIGINT) * 1000000 AS ws,
                   event_type, COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
            FROM ev GROUP BY 1, 2""").fetchall())
        newest_us = con.sql("SELECT epoch_us(max(ts)) FROM ev").fetchone()[0]
    finally:
        con.close()
    if not closed_only:
        return rows
    wm = newest_us // 1000 * 1000 - _seconds(gen.EVENTS["watermark"]) * 10**6
    return [r for r in rows if r[0] + width * 10**6 <= wm]


def _seconds(interval: str) -> int:
    n, unit = interval.split()
    return int(n) * {"minutes": 60, "minute": 60, "hours": 3600, "hour": 3600}[unit]


def table_windows(table_dir: str) -> list[tuple]:
    """The stream's window table read from its files, flush row dropped."""
    import pyarrow.compute as pc

    tbl = table_arrow(table_dir, columns=WINDOW_COLS)
    if tbl is None:
        return []
    tbl = tbl.filter(pc.not_equal(tbl.column("event_type"), "flush"))
    ws = pc.cast(pc.cast(tbl.column("window_start"), "timestamp[us]"), "int64").to_pylist()
    return sorted(zip(ws, *(tbl.column(c).to_pylist() for c in WINDOW_COLS[1:])))


class StreamLeg:
    def __init__(self, ctx, base: str):
        self.ctx = ctx
        self.inbox = os.path.join(base, "events")
        self.table = os.path.join(base, "stream_windows")
        self.ckpt = os.path.join(base, "stream_checkpoint")
        os.makedirs(self.inbox, exist_ok=True)
        self.commits: dict[int, float] = {}
        self.drops: list[dict] = []
        self.query = None

    def start(self) -> None:
        from datalake_scripts_spark.streaming import sinks, windows

        cfg = gen.EVENTS
        ev = windows.stream_from_directory(self.ctx.spark, self.inbox, fmt="json")
        agg = windows.tumbling_agg(ev, window=cfg["window"], watermark=cfg["watermark"])
        sink = sinks.foreach_batch_versioned(self.table)
        tr = self.ctx.trace

        def on_batch(df, epoch_id):
            with tr.span("sinks.batch_commit"):
                sink(df, epoch_id)
            self.commits[int(epoch_id)] = time.time()

        self.query = (agg.writeStream.outputMode("append").foreachBatch(on_batch)
                      .option("checkpointLocation", self.ckpt).start())

    def land(self, batch: int) -> dict:
        """Drop this batch's event file; event time keeps advancing."""
        n = gen.EVENTS["chunks_per_batch"]
        rows = [r for k in range(batch * n, (batch + 1) * n)
                for r in gen.event_chunk(self.ctx.seed, k)]
        drop = write_events(self.inbox, batch, rows)
        self.drops.append(drop)
        return drop

    def file_batches(self) -> dict[str, int]:
        """file path -> batch id, from the file source's metadata log."""
        out = {}
        for p in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            with open(p) as f:
                for line in f:
                    if line.startswith("{"):
                        e = json.loads(line)
                        out[urlparse(e["path"]).path] = int(e["batchId"])
        return out

    def wait(self, drop: dict, timeout: float = 60.0) -> float:
        """Block until the dropped file is in a committed micro-batch and
        the stream is idle (the windows it closes are emitted); returns
        the file's latency from drop to commit."""
        deadline = time.time() + timeout
        while True:
            bid = self.file_batches().get(drop["path"])
            if bid is not None and bid in self.commits:
                self.query.processAllAvailable()
                return self.commits[bid] - drop["wrote"]
            if time.time() > deadline:
                raise TimeoutError("stream did not commit the batch's event file")
            self.query.processAllAvailable()

    def rows(self) -> int:
        from datalake_scripts_spark.operators import versioned as V

        return V.snapshot_row_count(self.table) if os.path.isdir(self.table) else 0

    def check_closed(self) -> bool:
        """The window table holds exactly the windows that the events
        dropped so far close (files and DuckDB, not Spark)."""
        want = expected_windows([d["path"] for d in self.drops], closed_only=True)
        got = table_windows(self.table) if os.path.isdir(self.table) else []
        if got != want:
            self.ctx.log(f"gate: stream window table has {len(got)} rows, closed windows "
                         f"of the batch recomputation {len(want)}")
        return got == want

    def finish(self, timeout: float = 30.0) -> bool:
        """Close every window with a far-future event, then check the
        window table against a batch recomputation (files and DuckDB,
        not Spark)."""
        want = expected_windows([d["path"] for d in self.drops])
        write_events(self.inbox, 10**6 - 1, [FLUSH])
        deadline = time.time() + timeout
        while True:
            if self.query is not None:
                self.query.processAllAvailable()
            got = table_windows(self.table) if os.path.isdir(self.table) else []
            if got == want or time.time() > deadline:
                break
            time.sleep(0.2)
        if got != want:
            self.ctx.log(f"gate: stream window table has {len(got)} rows, batch "
                         f"recomputation {len(want)}; {len(set(got) ^ set(want))} differ")
        return got == want

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()

    def progress_layer(self, latencies: list[float]) -> dict:
        """Per-micro-batch medians from StreamingQuery.recentProgress."""
        prog = [p for p in self.query.recentProgress if p.get("numInputRows", 0) > 0]

        def dur(k):
            return median([p["durationMs"].get(k, 0) / 1000.0 for p in prog])

        def state(k):
            return median([sum(o.get(k, 0) for o in p.get("stateOperators", [])) for p in prog])

        return {
            "stream.latency_s": median(latencies),
            "stream.trigger_s": dur("triggerExecution"),
            "stream.add_batch_s": dur("addBatch"),
            "stream.plan_s": dur("queryPlanning"),
            "stream.wal_commit_s": dur("walCommit"),
            "stream.state_rows": state("numRowsTotal"),
            "stream.state_bytes": state("memoryUsedBytes"),
            "stream.rows_per_batch": median([p["numInputRows"] for p in prog]),
        }
