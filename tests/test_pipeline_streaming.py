"""End-to-end tests: pipeline DSL, streaming runner + values store +
trigger hysteresis, file collector, sqlite sink, replay source,
scheduler, waypoints."""

from __future__ import annotations

import glob
import os
import sqlite3
import time
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from dcafs_spark.operators.waypoint import StreamingGeofence, Waypoint, nearest_waypoint, waypoint_events
from dcafs_spark.plans import compile_path
from dcafs_spark.scheduler import Check, Task, TaskManager, TaskSet, next_clock_fire, render_template
from dcafs_spark.sinks import FileCollector, SqliteSink, ddl_for
from dcafs_spark.sinks.file_collector import decimate
from dcafs_spark.sources import read_lines, replay_files
from dcafs_spark.streaming import StreamingPath, TriggerRule, ValuesStore


CTD_PATH = {
    "id": "ctd",
    "delimiter": ",",
    "steps": [
        {"type": "filter", "rules": [["start", "$CTD"], ["minitems", "6"]], "reject": "bad"},
        {"type": "math", "ops": [{"target": "i2", "formula": "i2*1000", "scale": 1}], "typed": False},
        {
            "type": "generic",
            "fields": [
                {"name": "station", "index": 0, "dtype": "text"},
                {"name": "temp", "index": 2, "dtype": "real"},
                {"name": "sal", "index": 3, "dtype": "real"},
                {"name": "press", "index": 4, "dtype": "real"},
            ],
            "keep": ["origin", "event_id"],
        },
    ],
}


# streaming sources carry (value, origin, ts) — no event_id column
STREAM_CTD_PATH = {
    **CTD_PATH,
    "steps": CTD_PATH["steps"][:-1] + [{**CTD_PATH["steps"][-1], "keep": ["origin", "ts"]}],
}


class TestPipelineDSL:
    def test_path_end_to_end(self, spark, lines_df):
        main, rejects = compile_path(lines_df, CTD_PATH)
        rows = {r["event_id"]: r for r in main.collect()}
        # rows 1,2 parse fully; 3 has empty temp→null; 4 bad number→null
        assert rows[1]["temp"] == pytest.approx(12941.0)
        assert rows[1]["sal"] == pytest.approx(38.45)
        assert rows[3]["temp"] is None
        assert rows[4]["temp"] is None
        # 5 (too few fields), 6 (GPS), 7 (noise) rejected
        assert set(rows) == {1, 2, 3, 4}
        rej = {r["event_id"] for r in rejects["bad"].collect()}
        assert rej == {5, 6, 7}

    def test_math_step_scale(self, spark, lines_df):
        main, _ = compile_path(
            lines_df,
            {
                "delimiter": ",",
                "steps": [
                    {"type": "filter", "rules": [["start", "$CTD"], ["minitems", "6"]]},
                    {"type": "math", "ops": [{"target": "i2", "formula": "i2*2", "scale": 0}]},
                ],
            },
        )
        first = main.orderBy("event_id").first()["value"]
        assert first.split(",")[2] == "26"  # 12.941*2 rounded → 26


class TestValuesStore:
    def _feed(self, spark, store, values, ts0=0):
        rows = [("ctd", "temp", float(v), ts0 + i) for i, v in enumerate(values)]
        df = spark.createDataFrame(rows, "group string, name string, value double, ts long")
        store.merge_batch(df)

    def test_running_aggregates(self, spark):
        store = ValuesStore(history_n=3)
        self._feed(spark, store, [10.0, 20.0])
        self._feed(spark, store, [5.0, 30.0], ts0=2)
        snap = store.snapshot()[0]
        assert snap["last_value"] == 30.0
        assert snap["min_value"] == 5.0
        assert snap["max_value"] == 30.0
        assert snap["n_updates"] == 4
        assert snap["hist_avg"] == pytest.approx(round((20.0 + 5.0 + 30.0) / 3, 3))

    def test_stdev_nan_until_full(self, spark):
        store = ValuesStore(history_n=3)
        self._feed(spark, store, [1.0, 2.0])
        assert store.snapshot()[0]["hist_stdev"] is None  # window not full
        self._feed(spark, store, [3.0], ts0=5)
        assert store.snapshot()[0]["hist_stdev"] == pytest.approx(1.0)

    def test_trigger_hysteresis(self, spark):
        store = ValuesStore()
        fired = []
        store.add_rule(
            TriggerRule("ctd", "temp", "comparison", comparison="above 25",
                        cmd=lambda g, n, v: fired.append(v))
        )
        for batch in ([10.0], [30.0], [35.0], [20.0], [40.0]):
            self._feed(spark, store, batch)
        # fires at 30 (crossing), NOT at 35 (still high), re-arms at 20,
        # fires again at 40  (RealVal.java:527-531 semantics)
        assert fired == [30.0, 40.0]

    def test_changed_trigger(self, spark):
        store = ValuesStore()
        fired = []
        store.add_rule(TriggerRule("ctd", "temp", "changed", cmd=lambda g, n, v: fired.append(v)))
        for batch in ([1.0], [1.0], [2.0]):
            self._feed(spark, store, batch)
        assert fired == [1.0, 2.0]  # first sight + actual change

    def test_within_batch_crossing_fires(self, spark):
        """Per-record trigger parity (RealVal.java:464-533): a value
        that crosses the threshold and returns WITHIN one batch still
        fires, and the rule re-arms in the same batch."""
        store = ValuesStore()
        fired = []
        store.add_rule(
            TriggerRule("ctd", "temp", "comparison", comparison="above 25",
                        cmd=lambda g, n, v: fired.append(v))
        )
        # one batch: cross up (30), come back (10), cross up again (40)
        self._feed(spark, store, [10.0, 30.0, 10.0, 40.0])
        assert fired == [30.0, 40.0]

    def test_10k_keys_bounded_driver_state(self, spark):
        """Driver work is O(#keys): 10k keys x 4 rows reduce to one
        delta row per key; the max_keys guard trips past the bound."""
        rows = [
            (f"g{k % 100}", f"n{k}", float(i), k * 10 + i)
            for k in range(10_000)
            for i in range(4)
        ]
        df = spark.createDataFrame(rows, "group string, name string, value double, ts long")
        store = ValuesStore(history_n=3)
        store.merge_batch(df)
        assert len(store.state) == 10_000
        st = store.state[("g1", "n1")]
        assert st.count == 4 and st.last == 3.0 and st.history == [1.0, 2.0, 3.0]
        tight = ValuesStore(max_keys=100)
        with pytest.raises(RuntimeError, match="max_keys"):
            tight.merge_batch(df)

    def test_geofence_driver_collects_only_boundaries(self, spark):
        """StreamingGeofence reaches the driver with transitions +
        one boundary row per key — correctness on a dense batch."""
        from dcafs_spark.operators.waypoint import StreamingGeofence, Waypoint

        # track inside→outside→inside across two batches
        def pos(ts, lat):
            return ("t1", lat, 3.0, float(ts))

        schema = "track_id string, lat double, lon double, ts double"
        g = StreamingGeofence([Waypoint("wp", 51.0, 3.0, 25.0)])
        b1 = spark.createDataFrame([pos(1, 51.0), pos(2, 55.0)], schema)  # in → out
        b2 = spark.createDataFrame([pos(3, 55.0), pos(4, 51.0)], schema)  # out, back in
        g.process_batch(b1, track="track_id", ts="ts")
        g.process_batch(b2, track="track_id", ts="ts")
        kinds = [(e[3], e[2]) for e in g.events]
        assert kinds == [("LEAVE", 2.0), ("ENTER", 4.0)]
        assert g.state[("t1", "wp")] is True

    def test_geofence_chattering_fence_bounded(self, spark):
        """A noisy GPS chattering across the fence every fix must NOT
        collect unboundedly: the per-batch cap keeps the earliest
        transitions and counts the dropped remainder in `overflow`."""
        from dcafs_spark.operators.waypoint import StreamingGeofence, Waypoint

        schema = "track_id string, lat double, lon double, ts double"
        # alternate inside (51.0) / outside (55.0) → a transition on
        # every fix after the first: 199 transitions in one batch
        rows = [("t1", 51.0 if i % 2 == 0 else 55.0, 3.0, float(i)) for i in range(200)]
        g = StreamingGeofence(
            [Waypoint("wp", 51.0, 3.0, 25.0)], max_transitions_per_batch=50
        )
        g.process_batch(spark.createDataFrame(rows, schema), track="track_id", ts="ts")
        # cap held: 50 collected transitions (earliest), 149 counted out
        trans_events = [e for e in g.events]
        assert len(trans_events) == 50
        assert g.overflow == 149
        # earliest-first: the kept transitions are ts 1..50
        assert [e[2] for e in trans_events] == [float(i) for i in range(1, 51)]
        # event-log eviction bound
        tight = StreamingGeofence(
            [Waypoint("wp", 51.0, 3.0, 25.0)],
            max_transitions_per_batch=50,
            max_events=10,
        )
        tight.process_batch(
            spark.createDataFrame(rows, schema), track="track_id", ts="ts"
        )
        assert len(tight.events) == 10 and tight.evicted == 40


class TestStreamingPath:
    def test_file_stream_to_store_and_sink(self, spark, tmp_path):
        watch = tmp_path / "watch"
        out: list = []
        raw = tmp_path / "raw.log"
        raw.write_text("".join(f"$CTD01,16:25:1{i},{12 + i}.5,38.4,1017,8\n" for i in range(6)))
        n_chunks = replay_files([str(raw)], str(watch), chunk_lines=3)
        assert n_chunks == 2

        store = ValuesStore(history_n=4)
        sp = StreamingPath(
            spark,
            source={"kind": "text", "path": str(watch), "maxFilesPerTrigger": 1},
            path=STREAM_CTD_PATH,
            store=store,
            # order state by the monotone temp channel: file-source ingest
            # timestamps tie within a micro-batch
            store_cols={"group": "origin", "name": "station", "value": "temp", "ts": "temp"},
            sinks=[lambda df, bid: out.extend(df.collect())],
        )
        q = sp.start("t_ctd")
        try:
            deadline = time.monotonic() + 60
            while time.monotonic() < deadline and len(out) < 6:
                q.processAllAvailable()
                time.sleep(0.2)
        finally:
            q.stop()
        assert len(out) == 6
        snap = store.snapshot()
        assert snap[0]["n_updates"] == 6
        assert snap[0]["last_value"] == pytest.approx(17500.0)  # i2*1000 math step
        assert snap[0]["min_value"] == pytest.approx(12500.0)

    def test_streaming_path_rejects(self, spark, tmp_path):
        watch = tmp_path / "watch2"
        os.makedirs(watch)
        (watch / "a.txt").write_text("$CTD01,1,2,3,4,5\nnoise\n")
        good: list = []
        bad: list = []
        sp = StreamingPath(
            spark,
            source={"kind": "text", "path": str(watch)},
            path=STREAM_CTD_PATH,
            sinks=[lambda df, bid: good.extend(df.collect())],
            reject_sinks={"bad": lambda df, bid: bad.extend(df.collect())},
        )
        q = sp.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(good) == 1 and len(bad) == 1


def _ctd_chunks(watch, n: int) -> list[str]:
    """n one-file chunks of CTD lines plus one noise line each; returns
    every line written."""
    watch.mkdir()
    lines = []
    for k in range(n):
        chunk = [f"$CTD0{k},16:25:1{i},{12 + i}.5,38.4,1017,8" for i in range(3)] + [f"noise{k}"]
        (watch / f"c{k}.txt").write_text("".join(line + "\n" for line in chunk))
        lines += chunk
    return lines


class TestFanOut:
    """One micro-batch's consumers (store merge, sinks, reject sinks)
    run concurrently over one materialized frame."""

    STORE_COLS = {"group": "origin", "name": "station", "value": "temp", "ts": "temp"}

    def _run(self, spark, watch, **kwargs):
        sp = StreamingPath(spark, source={"kind": "text", "path": str(watch), "maxFilesPerTrigger": 1}, **kwargs)
        q = sp.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return q

    def test_path_built_once_per_query(self, spark, tmp_path, monkeypatch):
        from dcafs_spark.operators import filter_forward

        calls = {"rules": 0, "custom": 0}
        build_rule = filter_forward._rule_to_predicate

        def counting_rule(*args):
            calls["rules"] += 1
            return build_rule(*args)

        def custom(df):
            calls["custom"] += 1
            return df

        monkeypatch.setattr(filter_forward, "_rule_to_predicate", counting_rule)
        watch = tmp_path / "w"
        _ctd_chunks(watch, 3)
        path = {**STREAM_CTD_PATH, "steps": STREAM_CTD_PATH["steps"] + [{"type": "custom", "fn": custom}]}
        out: list = []
        self._run(spark, watch, path=path, sinks=[lambda df, bid: out.extend((bid, r) for r in df.collect())])
        assert sorted({bid for bid, _ in out}) == [0, 1, 2]
        # CTD filter: two rules, built for the query, not per batch
        assert calls == {"rules": 2, "custom": 3}
        # the stream's rows equal the batch compile of the same lines
        batch = spark.read.text(str(watch)).withColumn("origin", F.lit("text")).withColumn("ts", F.current_timestamp())
        main, _rejects = compile_path(batch, path)
        cols = ["origin", "station", "temp", "sal", "press"]
        assert sorted(tuple(r[c] for c in cols) for _, r in out) == sorted(
            tuple(r) for r in main.select(*cols).collect()
        )

    def test_forward_edit_applies_from_next_batch(self, spark, tmp_path):
        from dcafs_spark.engine import Engine

        eng = Engine(spark)
        eng.command("ff:addshort,gga,raw:id:gps,start:$GPGGA")
        eng.command("mf:addblank,gga,filter:gga")
        eng.command("mf:addop,gga,i1=i1*2")
        eng.command("gens:addblank,gga,sr")
        watch = tmp_path / "w"
        watch.mkdir()
        eng.paths["gga"].source = {"kind": "text", "path": str(watch), "maxFilesPerTrigger": 1}
        got: list = []
        eng.add_sink("gga", lambda df, bid: got.extend((bid, r["val1"]) for r in df.collect()))
        (watch / "a.txt").write_text("$GPGGA,10\n")
        q = eng.start("gga")
        try:
            q.processAllAvailable()
            assert eng.command("mf:addop,gga,i1=i1+1") == "Op added to gga"
            (watch / "b.txt").write_text("$GPGGA,10\n")
            q.processAllAvailable()
        finally:
            eng.stop("gga")
        assert got == [(0, 20.0), (1, 21.0)]

    def test_collectors_sharing_a_directory_take_turns(self, spark, tmp_path):
        watch = tmp_path / "w"
        _ctd_chunks(watch, 1)
        out = str(tmp_path / "out")
        fc = FileCollector(out, fmt="parquet")
        # one collector attached twice plus a second one on its directory
        sinks = [fc.foreach_batch(), fc.foreach_batch(), FileCollector(out, fmt="parquet").foreach_batch()]
        q = self._run(spark, watch, path=STREAM_CTD_PATH, sinks=sinks)
        assert q.exception() is None
        assert spark.read.parquet(out).count() == 9

    def test_sink_removed_mid_batch_does_not_skip_the_next(self, spark, tmp_path):
        watch = tmp_path / "w"
        _ctd_chunks(watch, 1)
        got: list = []

        def leaver(df, bid):  # a telnet client dropping its subscription
            sp_sinks.remove(leaver)

        sp_sinks = [leaver, lambda df, bid: got.append(bid)]
        self._run(spark, watch, path=STREAM_CTD_PATH, sinks=sp_sinks)
        assert got == [0]
        assert len(sp_sinks) == 1

    def test_failing_sink_fails_batch_after_all_consumers_ran(self, spark, tmp_path):
        from pyspark.errors import StreamingQueryException

        watch = tmp_path / "w"
        _ctd_chunks(watch, 1)
        store = ValuesStore()
        after: list = []
        rejected: list = []

        def boom(df, bid):
            raise RuntimeError("sink exploded")

        sp = StreamingPath(
            spark,
            source={"kind": "text", "path": str(watch)},
            path=STREAM_CTD_PATH,
            store=store,
            store_cols=self.STORE_COLS,
            sinks=[boom, lambda df, bid: after.append(df.count())],
            reject_sinks={"bad": lambda df, bid: rejected.append(df.count())},
        )
        q = sp.start()
        try:
            with pytest.raises(StreamingQueryException, match="sink exploded"):
                q.processAllAvailable()
            assert "sink exploded" in str(q.exception())
        finally:
            q.stop()
        assert after == [3] and rejected == [1]
        assert store.snapshot()[0]["n_updates"] == 3

    def test_fan_out_jobs_keep_the_stream_job_group(self, spark, tmp_path):
        watch = tmp_path / "w"
        _ctd_chunks(watch, 1)
        groups: dict = {}

        def record(name):
            def sink(df, bid):
                groups[name] = df.sparkSession.sparkContext.getLocalProperty("spark.jobGroup.id")
                df.count()  # a job from the fan-out thread

            return sink

        def on_stream_thread(df):
            groups["stream"] = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
            return df

        path = {**STREAM_CTD_PATH, "steps": [{"type": "custom", "fn": on_stream_thread}, *STREAM_CTD_PATH["steps"]]}
        q = self._run(spark, watch, path=path, sinks=[record("a"), record("b")], reject_sinks={"bad": record("rej")})
        # the stream thread runs its batch in the query's run-id group,
        # the group query.stop() cancels
        assert groups["stream"] == str(q.runId)
        assert groups == dict.fromkeys(("stream", "a", "b", "rej"), str(q.runId))

    def test_fan_out_runs_every_call_once_and_raises_first_registered(self, spark):
        import sys
        import threading

        from dcafs_spark.streaming.runner import _fan_out

        ran: list = []
        lock = threading.Lock()

        def call(k):
            def run():
                with lock:
                    ran.append(k)
                if k == 3:  # registered first among the failures, fails last
                    time.sleep(0.3)
                    raise ValueError("first registered")
                if k == 9:
                    raise KeyError("second registered")

            return run

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            with pytest.raises(ValueError, match="first registered"):
                _fan_out(spark, [call(k) for k in range(16)])  # more calls than cores
        finally:
            sys.setswitchinterval(old)
        assert sorted(ran) == list(range(16))

    def test_fan_out_inherits_session_tags_without_warning(self, spark, tmp_path):
        import warnings

        watch = tmp_path / "w"
        _ctd_chunks(watch, 1)
        got: list = []
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            self._run(
                spark,
                watch,
                path=STREAM_CTD_PATH,
                sinks=[lambda df, bid: got.append(df.count()), lambda df, bid: got.append(df.count())],
            )
        assert got == [3, 3]
        assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]


class TestFileCollector:
    def test_rollover_partitions_and_decimation(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(f"line{i}", datetime(2026, 8, 13, 14 + (i // 4), i % 60, tzinfo=timezone.utc)) for i in range(8)],
            "value string, ts timestamp",
        )
        fc = FileCollector(str(tmp_path / "roll"), rollover="hour", header="#header")
        fc.write_batch(df)
        parts = sorted(os.path.basename(p) for p in glob.glob(str(tmp_path / "roll" / "rollover=*")))
        assert parts == ["rollover=2026-08-13T14.00", "rollover=2026-08-13T15.00"]
        assert (tmp_path / "roll" / "_header").read_text().strip() == "#header"

    def test_decimate(self, spark):
        df = spark.createDataFrame([(i, f"v{i}") for i in range(10)], "ts int, value string")
        kept = decimate(df, skipcount=4, order_col="ts").collect()
        assert sorted(r["ts"] for r in kept) == [0, 5]  # write 1, skip 4

    def test_zip_rollover_writes_gzip_parts(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(f"line{i}", datetime(2026, 8, 13, 14, i, tzinfo=timezone.utc)) for i in range(4)],
            "value string, ts timestamp",
        )
        fc = FileCollector(str(tmp_path / "z"), rollover="hour", zip_rollover=True)
        fc.write_batch(df)
        import gzip

        gz = glob.glob(str(tmp_path / "z" / "rollover=*" / "part-*.gz"))
        assert gz, "expected gzip part files"
        lines = sorted(
            line for p in gz for line in gzip.open(p, "rt").read().splitlines()
        )
        assert lines == [f"line{i}" for i in range(4)]

    def test_max_records_per_file_splits(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(f"r{i}", datetime(2026, 8, 13, 14, 0, tzinfo=timezone.utc)) for i in range(10)],
            "value string, ts timestamp",
        ).coalesce(1)
        fc = FileCollector(str(tmp_path / "s"), max_records_per_file=3)
        fc.write_batch(df)
        parts = [p for p in glob.glob(str(tmp_path / "s" / "part-*")) if not p.endswith(".crc")]
        assert len(parts) >= 4  # 10 rows / 3-per-file
        total = sum(len(open(p).read().splitlines()) for p in parts)
        assert total == 10

    def test_streaming_sink(self, spark, tmp_path):
        watch = tmp_path / "w"
        os.makedirs(watch)
        (watch / "x.txt").write_text("a\nb\n")
        fc = FileCollector(str(tmp_path / "out"), fmt="text", ts_col="ts")
        sp = StreamingPath(
            spark,
            source={"kind": "text", "path": str(watch)},
            path={"steps": []},
            sinks=[fc.foreach_batch()],
        )
        q = sp.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        data = sorted(
            line
            for p in glob.glob(str(tmp_path / "out" / "part-*"))
            for line in open(p).read().splitlines()
        )
        assert data == ["a", "b"]


class TestDbSinks:
    def test_sqlite_roundtrip_and_ddl(self, spark, tmp_path):
        db = str(tmp_path / "t.db")
        df = spark.createDataFrame([(1, "a", 2.5), (2, "b", 3.5)], "id int, name string, v double")
        assert ddl_for(df, "t", "sqlite") == 'CREATE TABLE IF NOT EXISTS "t" ("id" INTEGER, "name" TEXT, "v" REAL)'
        assert "DOUBLE PRECISION" in ddl_for(df, "t", "postgres")
        sink = SqliteSink(db, "t")
        n = sink.write_batch(df)
        assert n == 2
        con = sqlite3.connect(db)
        assert con.execute("SELECT count(*), sum(v) FROM t").fetchone() == (2, 6.0)
        con.close()

    def test_dialect_ddl_maps(self, spark):
        """The five reference dialects (SQLDB.java:84-95) + quoting."""
        df = spark.createDataFrame(
            [(1, "a", 2.5, True, datetime(2026, 1, 1, tzinfo=timezone.utc))],
            "id int, name string, v double, ok boolean, at timestamp",
        )
        my = ddl_for(df, "order", "mysql")
        assert my.startswith("CREATE TABLE IF NOT EXISTS `order`")
        assert "`v` DOUBLE" in my and "`ok` TINYINT(1)" in my and "`at` DATETIME(6)" in my
        pg = ddl_for(df, "t", "postgresql")
        assert '"at" TIMESTAMPTZ' in pg and '"name" TEXT' in pg
        ms = ddl_for(df, "t", "mssql")
        assert ms.startswith("IF OBJECT_ID(N't', N'U') IS NULL CREATE TABLE [t]")
        assert "[v] FLOAT" in ms and "[ok] BIT" in ms and "[name] NVARCHAR(MAX)" in ms
        assert ddl_for(df, "t", "mariadb") == ddl_for(df, "t", "mysql")

    def test_sqlite_dead_letter(self, spark, tmp_path):
        db = str(tmp_path / "t2.db")
        con = sqlite3.connect(db)
        con.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v REAL)")
        con.execute("INSERT INTO t VALUES (2, 0.0)")
        con.commit()
        con.close()
        df = spark.createDataFrame([(1, 1.0), (2, 2.0), (3, 3.0)], "id int, v double")
        sink = SqliteSink(db, "t", create=False)
        n = sink.write_batch(df)
        assert n == 2  # id=2 conflicts
        assert sink.dead_letter == [(2, 2.0)]


class TestReplaySource:
    def test_read_lines_with_timestamps(self, spark, tmp_path):
        p = tmp_path / "raw.log"
        p.write_text("2026-08-13T10:00:00\t$CTD,1,2\nbare line\n")
        df = read_lines(spark, str(p), origin="replay")
        rows = {r["value"]: r for r in df.collect()}
        assert rows["$CTD,1,2"]["ts"].isoformat().startswith("2026-08-13T10:00")
        assert "bare line" in rows

    def test_read_lines_failed_parse_keeps_whole_payload(self, spark, tmp_path):
        """A line matching the ts-prefix regex whose FULL to_timestamp
        parse fails is bare for ts AND bare for value — the malformed
        first field must not be truncated away (round-11 review)."""
        p = tmp_path / "raw.log"
        bad = "2024-01-02T03:04:05garbage\tpayload,1,2"
        p.write_text(bad + "\n2026-08-13T10:00:00\tgood,3\n")
        rows = {r["value"]: r for r in read_lines(spark, str(p)).collect()}
        assert bad in rows  # whole line survives, tab and all
        assert rows["good,3"]["ts"].isoformat().startswith("2026-08-13T10:00")


class TestScheduler:
    def test_check_gates_and_retry(self):
        store = ValuesStore()
        from dcafs_spark.streaming.values_store import _KeyState

        st = _KeyState()
        st.last = 10.0
        store.state[("ctd", "temp")] = st
        tm = TaskManager(store, tick_s=0.01)
        done = []
        t = Task("t1", action=done.append, value="temp={r:ctd_temp}",
                 check=Check("ctd", "temp", "above 5"))
        tm.add_task(t)
        assert tm.fire(t)
        assert done == ["temp=10"]
        t2 = Task("t2", action=done.append, value="x", check=Check("ctd", "temp", "above 50"))
        assert not tm.fire(t2)

    def test_taskset_step_failure_link(self):
        store = ValuesStore()
        from dcafs_spark.streaming.values_store import _KeyState

        st = _KeyState()
        st.last = 1.0
        store.state[("g", "v")] = st
        tm = TaskManager(store, tick_s=0.01)
        ran = []
        ok_task = Task("ok", action=lambda s: ran.append("ok"))
        failing = Task("fail", action=lambda s: ran.append("never"), check=Check("g", "v", "above 5"))
        after = Task("after", action=lambda s: ran.append("after"))
        cleanup = Task("cleanup", action=lambda s: ran.append("cleanup"))
        tm.add_taskset(TaskSet("main", "step", [ok_task, failing, after], failure_set="onfail"))
        tm.add_taskset(TaskSet("onfail", "oneshot", [cleanup]))
        assert not tm.run_taskset("main")
        assert ran == ["ok", "cleanup"]  # stopped at failure, ran failure set

    def test_interval_task_fires(self):
        tm = TaskManager(tick_s=0.02)
        hits = []
        tm.add_task(Task("i", action=hits.append, value="tick", trigger="interval", interval_s=0.05))
        tm.start()
        time.sleep(0.4)
        tm.stop()
        assert len(hits) >= 3

    def test_keyword_trigger(self):
        tm = TaskManager(tick_s=0.01)
        hits = []
        tm.add_task(Task("k", action=hits.append, value="alert", trigger="keyword", keyword="ERROR"))
        assert tm.on_keyword("2026 ERROR something") == 1
        assert tm.on_keyword("all fine") == 0
        assert hits == ["alert"]

    def test_render_template_utc(self):
        out = render_template("at {utc:%Y}", None, now=datetime(2026, 8, 13, tzinfo=timezone.utc))
        assert out == "at 2026"

    @staticmethod
    def _store_with(group, name, value):
        from dcafs_spark.streaming.values_store import _KeyState

        store = ValuesStore()
        st = _KeyState()
        st.last = value
        store.state[(group, name)] = st
        return store, st

    def test_while_gate_advances_after_n_passes(self):
        # while:·,3 — check passes 3x at interval, set advances
        store, _st = self._store_with("g", "v", 10.0)
        tm = TaskManager(store, tick_s=0.005)
        ran = []
        gate = Task("w", action=lambda s: ran.append("never"), trigger="while",
                    interval_s=0.005, runs=3, check=Check("g", "v", "above 5"))
        tm.add_taskset(TaskSet("m", "step", [gate, Task("after", action=lambda s: ran.append("after"))]))
        assert tm.run_taskset("m") is True
        # the gate itself executes no output; only the follow-up task ran
        assert ran == ["after"]
        assert [e for e in tm.log if e[0] == "w"].count(("w", "gate_pass")) == 3
        assert ("w", "gate_done") in tm.log

    def test_while_gate_failure_cancels_set(self):
        # a failing check mid-while cancels the step set → failure set
        store, st = self._store_with("g", "v", 10.0)
        tm = TaskManager(store, tick_s=0.005)
        ran = []
        passes = {"n": 0}

        def flip_after_two(*_a):
            # drop the value below the threshold after the 2nd poll
            passes["n"] += 1
            if passes["n"] == 2:
                st.last = 1.0

        orig = Check.passes
        try:
            Check.passes = lambda self, s: (flip_after_two(), orig(self, s))[1]
            gate = Task("w", action=lambda s: None, trigger="while",
                        interval_s=0.005, runs=5, check=Check("g", "v", "above 5"))
            tm.add_taskset(TaskSet("m", "step", [gate, Task("after", action=lambda s: ran.append("after"))],
                                   failure_set="fs"))
            tm.add_taskset(TaskSet("fs", "oneshot", [Task("cl", action=lambda s: ran.append("cleanup"))]))
            assert tm.run_taskset("m") is False
        finally:
            Check.passes = orig
        assert ran == ["cleanup"]
        assert ("w", "gate_failed") in tm.log

    def test_waitfor_resets_streak_and_completes(self):
        # waitfor:·,2 — failures reset the consecutive-pass counter
        # (TaskManager.java:515-517), then 2 passes in a row advance
        store, st = self._store_with("g", "v", 1.0)  # starts failing
        tm = TaskManager(store, tick_s=0.005)
        ran = []
        polls = {"n": 0}

        def rising(*_a):
            polls["n"] += 1
            if polls["n"] == 3:
                st.last = 10.0  # comes good on the 3rd poll

        orig = Check.passes
        try:
            Check.passes = lambda self, s: (rising(self), orig(self, s))[1]
            gate = Task("wf", action=lambda s: None, trigger="waitfor",
                        interval_s=0.005, runs=2, check=Check("g", "v", "above 5"))
            tm.add_taskset(TaskSet("m", "step", [gate, Task("after", action=lambda s: ran.append("after"))]))
            assert tm.run_taskset("m") is True
        finally:
            Check.passes = orig
        assert ran == ["after"]
        assert ("wf", "gate_reset") in tm.log  # early failing polls reset, not cancel
        assert ("wf", "gate_done") in tm.log

    def test_waitfor_timeout_bounds_polling(self):
        store, _st = self._store_with("g", "v", 1.0)  # never passes
        tm = TaskManager(store, tick_s=0.001)
        tm.max_gate_wait_s = 0.05
        gate = Task("wf", action=lambda s: None, trigger="waitfor",
                    interval_s=0.001, runs=1, check=Check("g", "v", "above 5"))
        tm.add_taskset(TaskSet("m", "step", [gate]))
        assert tm.run_taskset("m") is False
        assert ("wf", "gate_timeout") in tm.log

    def test_parse_trigger_grammar(self):
        from dcafs_spark.scheduler import parse_period_s, parse_trigger

        assert parse_period_s("5m3s") == 303.0
        assert parse_period_s("250ms") == 0.25
        assert parse_period_s("1h") == 3600.0
        assert parse_trigger("while:10s,2") == {"trigger": "while", "interval_s": 10.0, "runs": 2}
        assert parse_trigger("waitfor:500ms") == {"trigger": "waitfor", "interval_s": 0.5, "runs": 1}
        assert parse_trigger("retry:10s,5") == {"trigger": "execute", "interval_s": 10.0, "retries": 5}
        assert parse_trigger("time:07:15,thursday") == {"trigger": "clock", "clock": "07:15", "days": "thursday"}
        assert parse_trigger("delay:5m3s") == {"trigger": "delay", "initial_delay_s": 303.0}
        assert parse_trigger("interval:10s,5m") == {
            "trigger": "interval", "initial_delay_s": 10.0, "interval_s": 300.0}
        iv = parse_trigger("interval:2s")
        assert iv["interval_s"] == 2.0 and iv["initial_delay_s"] == 2.0  # first run not at t=0
        assert parse_trigger("armed") == {"trigger": "keyword", "keyword": "armed"}

    def test_next_clock_fire_weekday(self):
        now = datetime(2026, 8, 13, 12, 0, tzinfo=timezone.utc)  # a Thursday
        nxt = next_clock_fire("09:30", "mo,fr", now)
        assert nxt.weekday() == 4 and nxt.hour == 9  # Friday 09:30


class TestWaypoints:
    WPS = [Waypoint("harbor", 51.0, 3.0, 5.0), Waypoint("buoy", 51.5, 3.5, 1.0)]

    def test_enter_leave_events(self, spark):
        # track passes into and out of the harbor circle
        rows = [
            ("v1", 1, 50.80, 3.0),  # ~22 km away: outside
            ("v1", 2, 50.98, 3.0),  # ~2 km: inside → ENTER
            ("v1", 3, 51.01, 3.0),  # still inside (no event)
            ("v1", 4, 50.80, 3.0),  # back out → LEAVE
        ]
        df = spark.createDataFrame(rows, "track_id string, ts int, lat double, lon double")
        ev = waypoint_events(df, self.WPS)
        harbor = {r["ts"]: r["event"] for r in ev.filter(F.col("wp_id") == "harbor").collect()}
        assert harbor == {1: None, 2: "ENTER", 3: None, 4: "LEAVE"}

    def test_nearest(self, spark):
        df = spark.createDataFrame([("v1", 1, 51.49, 3.5)], "track_id string, ts int, lat double, lon double")
        row = nearest_waypoint(df, self.WPS).first()
        assert row["nearest_wp"] == "buoy"
        assert row["nearest_dist_km"] < 2.0

    def test_streaming_geofence_cross_batch(self, spark):
        gf = StreamingGeofence([Waypoint("harbor", 51.0, 3.0, 5.0)])
        b1 = spark.createDataFrame(
            [("v1", 1, 50.80, 3.0)], "track_id string, ts int, lat double, lon double"
        )
        b2 = spark.createDataFrame(
            [("v1", 2, 50.99, 3.0)], "track_id string, ts int, lat double, lon double"
        )
        gf.process_batch(b1)
        gf.process_batch(b2)  # transition spans the batch boundary
        assert [(e[0], e[1], e[3]) for e in gf.events] == [("v1", "harbor", "ENTER")]


class TestIgnoresAndIssues:
    def test_filter_ignores_semantics(self, spark):
        from dcafs_spark.operators.filter_forward import FilterForward

        # pass rows start with OK; ignores=2 lets 2 failures through
        # after each pass, then rejects until the next pass
        rows = [
            (1, "BAD"), (2, "OK a"), (3, "BAD"), (4, "BAD"), (5, "BAD"),
            (6, "OK b"), (7, "BAD"), (8, "OK c"),
        ]
        df = spark.createDataFrame(rows, "ts int, value string")
        ff = FilterForward(rules=[("start", "OK")])
        kept = sorted(r["ts"] for r in ff.apply_with_ignores(df, ignores=2, order_col="ts").collect())
        # 1: no prior pass -> drop; 2: pass; 3,4: ignored failures; 5: 3rd
        # failure -> drop; 6: pass; 7: ignored; 8: pass
        assert kept == [2, 3, 4, 6, 7, 8]

    def test_issue_pool_raise_resolve_cycle(self, spark):
        from dcafs_spark.issues import IssuePool
        from dcafs_spark.streaming import ValuesStore

        clock = iter(range(100)).__next__
        pool = IssuePool(clock=lambda: float(clock()))
        store = ValuesStore()
        pool.attach(store, "overtemp", "ctd", "temp", "above 30")

        def feed(v):
            df = spark.createDataFrame(
                [("ctd", "temp", float(v), 0)], "group string, name string, value double, ts long"
            )
            store.merge_batch(df)

        for v in (10, 35, 40, 20, 50):
            feed(v)
        iss = pool.issues["overtemp"]
        # 10: idle; 35: raise; 40: active (no double-raise); 20: resolve;
        # 50: raise again
        assert iss.active
        assert iss.count == 2


class TestRound10SchedulerReviewFixes:
    """Review findings reproduced then fixed: action-failure handling,
    retry pacing, localtime clocks, period whitespace."""

    def test_action_failure_runs_failure_set(self):
        from dcafs_spark.scheduler import Task, TaskManager, TaskSet

        tm = TaskManager(tick_s=0.01)
        ran: list[str] = []
        tm.add_taskset(
            TaskSet(
                "main",
                "step",
                [
                    Task("send", action=lambda t: False, value="x"),  # transport drop
                    Task("after", action=lambda t: ran.append("after")),
                ],
                failure_set="fallback",
            )
        )
        tm.add_taskset(
            TaskSet("fallback", "oneshot", [Task("fb", action=lambda t: ran.append("fb"))])
        )
        assert tm.run_taskset("main") is False
        assert ran == ["fb"]  # failure set ran, later steps did not
        assert ("send", "action_failed") in tm.log

    def test_retry_waits_configured_interval(self):
        import time as _t

        from dcafs_spark.scheduler import Check, Task, TaskManager, parse_trigger

        tm = TaskManager(tick_s=0.001)
        kw = parse_trigger("retry:100ms,3")
        assert kw == {"trigger": "execute", "interval_s": 0.1, "retries": 3}
        t = Task("r", action=lambda s: None, check=Check("g", "v", "above 10"), **kw)
        t0 = _t.monotonic()
        assert tm.fire(t) is False  # value never arrives
        waited = _t.monotonic() - t0
        assert waited >= 0.3  # 3 retry gaps of interval_s, not tick_s

    def test_localtime_clock_uses_local_wall_time(self):
        import os
        import time as _t
        from datetime import datetime, timezone

        from dcafs_spark.scheduler import Task, TaskManager, parse_trigger

        old_tz = os.environ.get("TZ")
        os.environ["TZ"] = "Etc/GMT-2"  # UTC+2 (POSIX sign convention)
        _t.tzset()
        try:
            tm = TaskManager(tick_s=0.5)
            loc = Task("loc", action=lambda s: None, **parse_trigger("localtime:07:15"))
            utc = Task("utc", action=lambda s: None, **parse_trigger("utctime:07:15"))
            at_0515_utc = datetime(2026, 8, 12, 5, 15, 0, tzinfo=timezone.utc)  # 07:15 local
            assert tm._due(loc, now_mono=100.0, now_utc=at_0515_utc) is True
            assert tm._due(utc, now_mono=100.0, now_utc=at_0515_utc) is False
            at_0715_utc = datetime(2026, 8, 12, 7, 15, 0, tzinfo=timezone.utc)  # 09:15 local
            assert tm._due(loc, now_mono=100.0, now_utc=at_0715_utc) is False
            assert tm._due(utc, now_mono=100.0, now_utc=at_0715_utc) is True
        finally:
            if old_tz is None:
                os.environ.pop("TZ", None)
            else:
                os.environ["TZ"] = old_tz
            _t.tzset()

    def test_parse_period_accepts_inner_whitespace(self):
        from dcafs_spark.scheduler import parse_period_s

        assert parse_period_s("5 m") == 300.0
        assert parse_period_s("1m 30s") == 90.0
        import pytest

        with pytest.raises(ValueError):
            parse_period_s("5 parsecs")
