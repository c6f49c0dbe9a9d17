"""applyInPandasWithState values + watermarked windowed aggregation."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from dcafs_spark.streaming.stateful import stateful_values


def _drain(q, predicate, timeout_s=60):
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        q.processAllAvailable()
        if predicate():
            return True
        time.sleep(0.2)
    return False


class TestStatefulValues:
    def test_state_carries_across_microbatches(self, spark, tmp_path):
        watch = tmp_path / "w"
        watch.mkdir()
        # batch 1: values 10, 20; batch 2: value 5 (new min, new last)
        (watch / "b1.txt").write_text("ctd,temp,10,1\nctd,temp,20,2\n")

        raw = spark.readStream.option("maxFilesPerTrigger", 1).text(str(watch))
        arr = F.split("value", ",")
        keyed = raw.select(
            arr[0].alias("g"),
            arr[1].alias("n"),
            arr[2].cast("double").alias("v"),
            arr[3].cast("double").alias("t"),
        )
        out = stateful_values(keyed, history_n=3, group="g", name="n", value="v", ts="t")
        rows: list = []
        q = (
            out.writeStream.outputMode("update")
            .foreachBatch(lambda df, bid: rows.extend(df.collect()))
            .start()
        )
        try:
            assert _drain(q, lambda: len(rows) >= 1)
            assert rows[-1]["n_updates"] == 2
            assert rows[-1]["min_value"] == 10.0
            assert rows[-1]["hist_stdev"] is None  # window (3) not full

            (watch / "b2.txt").write_text("ctd,temp,5,3\n")
            assert _drain(q, lambda: len(rows) >= 2)
        finally:
            q.stop()
        final = rows[-1]
        assert final["n_updates"] == 3
        assert final["min_value"] == 5.0  # carried min updated
        assert final["last_value"] == 5.0
        assert final["hist_avg"] == pytest.approx(round((10 + 20 + 5) / 3, 3))
        assert final["hist_stdev"] == pytest.approx(7.6376, abs=1e-3)  # window full now

    def test_null_values_ignored_not_poisoning(self, spark, tmp_path):
        """NULL value/ts rows must not count toward n_updates/avg, must
        not enter the history ring (a NaN there makes hist_avg/stdev
        NaN forever), and must not freeze last_value."""
        watch = tmp_path / "w"
        watch.mkdir()
        # 'x' casts to NULL value; missing ts field casts to NULL ts
        (watch / "b1.txt").write_text(
            "ctd,temp,10,1\nctd,temp,x,2\nctd,temp,20,3\nctd,temp,30,\n"
        )
        raw = spark.readStream.option("maxFilesPerTrigger", 1).text(str(watch))
        arr = F.split("value", ",")
        keyed = raw.select(
            arr[0].alias("g"),
            arr[1].alias("n"),
            arr[2].try_cast("double").alias("v"),  # 'x' → NULL (ANSI-safe)
            arr[3].try_cast("double").alias("t"),
        )
        out = stateful_values(keyed, history_n=2, group="g", name="n", value="v", ts="t")
        rows: list = []
        q = (
            out.writeStream.outputMode("update")
            .foreachBatch(lambda df, bid: rows.extend(df.collect()))
            .start()
        )
        try:
            assert _drain(q, lambda: len(rows) >= 1)
        finally:
            q.stop()
        final = rows[-1]
        assert final["n_updates"] == 2  # the two clean rows only
        assert final["avg_value"] == pytest.approx(15.0)
        assert final["last_value"] == 20.0
        assert final["hist_avg"] == pytest.approx(15.0)  # no NaN in ring
        assert final["hist_stdev"] == final["hist_stdev"]  # not NaN

    def test_history_n_must_be_positive(self, spark):
        from dcafs_spark.streaming.values_store import ValuesStore

        for bad in (0, -1):  # the driver store checks at construction too
            with pytest.raises(ValueError, match="history_n"):
                ValuesStore(history_n=bad)
        with pytest.raises(ValueError, match="history_n"):
            stateful_values(
                spark.range(1).selectExpr(
                    "'g' g", "'n' n", "1.0 v", "1.0 t"
                ),
                history_n=0,
                group="g",
                name="n",
                value="v",
                ts="t",
            )

    def test_out_of_order_within_batch_keeps_latest_ts(self, spark, tmp_path):
        watch = tmp_path / "w2"
        watch.mkdir()
        (watch / "b1.txt").write_text("g,n,50,10\ng,n,99,5\n")  # ts 10 then ts 5
        raw = spark.readStream.text(str(watch))
        arr = F.split("value", ",")
        keyed = raw.select(
            arr[0].alias("g"), arr[1].alias("n"),
            arr[2].cast("double").alias("v"), arr[3].cast("double").alias("t"),
        )
        out = stateful_values(keyed, history_n=5, group="g", name="n", value="v", ts="t")
        rows: list = []
        q = (
            out.writeStream.outputMode("update")
            .foreachBatch(lambda df, bid: rows.extend(df.collect()))
            .start()
        )
        try:
            assert _drain(q, lambda: len(rows) >= 1)
        finally:
            q.stop()
        assert rows[-1]["last_value"] == 50.0  # ts=10 wins, not arrival order


class TestWatermarkWindow:
    def test_late_data_dropped_by_watermark(self, spark, tmp_path):
        """Tumbling 10s windows with a 5s watermark: an event older than
        watermark is dropped (append mode emits only finalized windows)."""
        watch = tmp_path / "w3"
        watch.mkdir()
        (watch / "b1.txt").write_text(
            "a,2026-01-01 00:00:01\na,2026-01-01 00:00:12\na,2026-01-01 00:01:30\n"
        )
        raw = spark.readStream.option("maxFilesPerTrigger", 1).text(str(watch))
        arr = F.split("value", ",")
        ev = raw.select(
            arr[0].alias("k"), F.to_timestamp(arr[1]).alias("ts")
        ).withWatermark("ts", "5 seconds")
        agg = ev.groupBy(F.window("ts", "10 seconds").alias("w"), "k").count()
        rows: list = []
        q = (
            agg.writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: rows.extend(df.collect()))
            .start()
        )
        try:
            _drain(q, lambda: len(rows) >= 2, timeout_s=30)
            # a very late event (00:00:03, watermark is past 00:01:25)
            (watch / "b2.txt").write_text("a,2026-01-01 00:00:03\n")
            q.processAllAvailable()
            (watch / "b3.txt").write_text("a,2026-01-01 00:02:30\n")
            q.processAllAvailable()
        finally:
            q.stop()
        emitted = {(str(r["w"]["start"]), r["count"]) for r in rows}
        # first window closed with ONE event; the late 00:00:03 never
        # reopened it (would have been count 2)
        assert ("2026-01-01 00:00:00", 1) in emitted
        assert ("2026-01-01 00:00:00", 2) not in emitted


class TestStatefulGeofence:
    def test_cross_batch_enter_leave(self, spark, tmp_path):
        from dcafs_spark.operators.waypoint import Waypoint, stateful_geofence_stream

        watch = tmp_path / "geo"
        watch.mkdir()
        # batch 1: far away then near (inside) — first sight arms, no event
        (watch / "b1.txt").write_text("v1,50.80,3.0,1\nv1,50.99,3.0,2\n")
        raw = spark.readStream.option("maxFilesPerTrigger", 1).text(str(watch))
        arr = F.split("value", ",")
        pos = raw.select(
            arr[0].alias("track_id"),
            arr[1].cast("double").alias("lat"),
            arr[2].cast("double").alias("lon"),
            arr[3].cast("double").alias("ts"),
        )
        out = stateful_geofence_stream(pos, [Waypoint("harbor", 51.0, 3.0, 5.0)])
        rows: list = []
        q = (
            out.writeStream.outputMode("update")
            .foreachBatch(lambda df, bid: rows.extend(df.collect()))
            .start()
        )
        try:
            assert _drain(q, lambda: True, timeout_s=30)
            assert [(r["event"]) for r in rows] == ["ENTER"]  # 50.80 -> 50.99
            # batch 2: leave again — state carried across micro-batches
            (watch / "b2.txt").write_text("v1,50.80,3.0,3\n")
            assert _drain(q, lambda: len(rows) >= 2, timeout_s=30)
        finally:
            q.stop()
        assert [(r["event"]) for r in rows] == ["ENTER", "LEAVE"]
        assert rows[1]["track_id"] == "v1" and rows[1]["wp_id"] == "harbor"


class TestCheckpointRecovery:
    def test_restart_resumes_without_duplicates(self, spark, tmp_path):
        """foreachBatch + checkpointLocation: stop after batch 1,
        restart the SAME query (same checkpoint) — file 1 is not
        reprocessed, file 2 is; the sqlite upsert sink stays exact."""
        import sqlite3

        from dcafs_spark.sinks.db import SqliteSink
        from dcafs_spark.streaming import StreamingPath

        watch = tmp_path / "w"
        watch.mkdir()
        ckpt = str(tmp_path / "ckpt")
        db = str(tmp_path / "r.db")
        con = sqlite3.connect(db)
        con.execute("CREATE TABLE lines (value TEXT PRIMARY KEY, origin TEXT, n REAL)")
        con.commit(); con.close()

        def mk_path():
            sink = SqliteSink(db, "lines", create=False, key_cols=["value"])

            def write(df, bid):
                sink.write_batch(df.selectExpr("value", "origin", "1.0 AS n"), bid)

            return StreamingPath(
                spark,
                source={"kind": "text", "path": str(watch)},
                path={"steps": []},
                sinks=[write],
                checkpoint=ckpt,
            )

        (watch / "f1.txt").write_text("a\nb\n")
        q1 = mk_path().start("ckpt_q")
        try:
            q1.processAllAvailable()
        finally:
            q1.stop(); q1.awaitTermination(10)

        (watch / "f2.txt").write_text("c\n")
        q2 = mk_path().start("ckpt_q")
        try:
            q2.processAllAvailable()
        finally:
            q2.stop(); q2.awaitTermination(10)

        con = sqlite3.connect(db)
        rows = sorted(r[0] for r in con.execute("SELECT value FROM lines").fetchall())
        con.close()
        assert rows == ["a", "b", "c"]  # each line exactly once across restart


class TestSessionWindowStreaming:
    def test_native_session_window(self, spark, tmp_path):
        """Spark-native session_window aggregation on a stream (the
        streaming flavor of the batch `sessionize` gate query)."""
        watch = tmp_path / "sw"
        watch.mkdir()
        (watch / "b1.txt").write_text(
            "u1,2026-01-01 00:00:01\nu1,2026-01-01 00:00:05\nu1,2026-01-01 00:10:00\n"
        )
        raw = spark.readStream.text(str(watch))
        arr = F.split("value", ",")
        ev = raw.select(arr[0].alias("user"), F.to_timestamp(arr[1]).alias("ts")).withWatermark(
            "ts", "1 second"
        )
        agg = ev.groupBy(F.session_window("ts", "30 seconds").alias("w"), "user").count()
        rows: list = []
        q = (
            agg.writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: rows.extend(df.collect()))
            .start()
        )
        try:
            q.processAllAvailable()
            (watch / "b2.txt").write_text("u1,2026-01-01 01:00:00\n")  # advance watermark
            q.processAllAvailable()
        finally:
            q.stop()
        counts = sorted(r["count"] for r in rows)
        assert counts[:2] == [1, 2]  # session of 2 events + the 00:10 singleton


class TestStreamingDedup:
    def test_drop_duplicates_within_watermark(self, spark, tmp_path):
        """Streaming exact dedup: duplicate lines across micro-batches
        are suppressed by keyed state within the watermark window
        (SURVEY §2.8 — a capability the reference lacks entirely)."""
        watch = tmp_path / "wd"
        watch.mkdir()
        (watch / "b1.txt").write_text("alpha\nbeta\nalpha\n")

        raw = spark.readStream.option("maxFilesPerTrigger", 1).text(str(watch))
        dedup = (
            raw.withColumn("ts", F.current_timestamp())
            .withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["value"])
        )
        rows: list = []
        q = (
            dedup.writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .foreachBatch(lambda df, bid: rows.extend(r["value"] for r in df.collect()))
            .start()
        )
        try:
            assert _drain(q, lambda: len(rows) >= 2)
            # second batch re-sends alpha plus a new line
            (watch / "b2.txt").write_text("alpha\ngamma\n")
            assert _drain(q, lambda: "gamma" in rows)
        finally:
            q.stop()
        assert sorted(rows) == ["alpha", "beta", "gamma"]  # alpha only once


class TestTriggerBatchInvariance:
    """Trigger firing must depend only on the VALUE SEQUENCE, never on
    how the stream was cut into micro-batches (the round-4 value-major
    sequencing bug class). Reference simulator processes one value at
    a time; the store replays the same sequence under random batch
    boundaries."""

    @staticmethod
    def _reference_fires(values, rules):
        # rules: list of (kind, comparison_check) — pure python replay
        from dcafs_spark.functions.compare import compile_compare_py

        state = [
            {"kind": k, "check": compile_compare_py(c) if c else None, "fired": False}
            for k, c in rules
        ]
        log = []
        prev = None
        for v in values:
            for i, st in enumerate(state):
                if st["kind"] == "always":
                    log.append((i, v))
                elif st["kind"] == "changed":
                    if prev is None or prev != v:
                        log.append((i, v))
                elif st["kind"] == "comparison":
                    ok = st["check"](v)
                    if ok and not st["fired"]:
                        st["fired"] = True
                        log.append((i, v))
                    elif not ok and st["fired"]:
                        st["fired"] = False
            prev = v
        return log

    def test_random_sequences_any_batching(self, spark):
        import random

        from dcafs_spark.streaming.values_store import TriggerRule, ValuesStore

        rng = random.Random(77)
        rules_spec = [
            ("comparison", "above 50"),
            ("comparison", "below 20"),
            ("changed", None),
        ]
        for trial in range(4):
            n = rng.randint(5, 18)
            # values drawn coarse so repeats + threshold crossings occur
            values = [float(rng.choice([10, 15, 25, 40, 55, 55, 70])) for _ in range(n)]
            expect = self._reference_fires(values, rules_spec)

            store = ValuesStore()
            log: list = []
            for i, (kind, comp) in enumerate(rules_spec):
                store.add_rule(
                    TriggerRule(
                        "g", "s", kind, comparison=comp,
                        cmd=(lambda i: lambda g, nm, v: log.append((i, v)))(i),
                    )
                )
            # random batch boundaries over the same sequence
            pos = 0
            t = 0
            while pos < n:
                size = rng.randint(1, 4)
                chunk = values[pos : pos + size]
                rows = [("g", "s", v, float(t + j)) for j, v in enumerate(chunk)]
                t += len(chunk)
                pos += size
                store.merge_batch(
                    spark.createDataFrame(
                        rows, "group string, name string, value double, ts double"
                    )
                )
            assert log == expect, f"trial {trial}: seq={values}"


class TestStoreParityDriverVsStateStore:
    """The driver-side ValuesStore and the applyInPandasWithState
    variant advertise the SAME aggregation contract — pin it with
    streams replayed through both."""

    @staticmethod
    def _both(spark, tmp_path, merges, files, history_n=5, files_per_batch=1):
        """Snapshots by key: ``merges`` through ValuesStore.merge_batch,
        one batch each, and ``files`` streamed ``files_per_batch`` per
        micro-batch through stateful_values. A None value or ts is
        written as an empty field, which reads back as NULL."""
        import os

        from dcafs_spark.streaming.values_store import ValuesStore

        store = ValuesStore(history_n=history_n)
        for batch in merges:
            store.merge_batch(
                spark.createDataFrame(batch, "group string, name string, value double, ts double")
            )
        driver_snap = {(s["group"], s["name"]): s for s in store.snapshot()}

        def field(x):
            return "" if x is None else x

        watch = tmp_path / "w"
        watch.mkdir()
        for fi, rows in enumerate(files):
            f = watch / f"b{fi}.txt"
            f.write_text("".join(f"{g},{n},{field(v)},{field(t)}\n" for g, n, v, t in rows))
            # distinct mtimes: the file source orders by modification time,
            # and both stores' history is by ARRIVAL (reference stamps at
            # receive time) — the replay must control arrival order
            os.utime(f, (1_700_000_000 + fi, 1_700_000_000 + fi))
        raw = spark.readStream.option("maxFilesPerTrigger", files_per_batch).text(str(watch))
        arr = F.split("value", ",")
        keyed = raw.select(
            arr[0].alias("g"),
            arr[1].alias("n"),
            arr[2].try_cast("double").alias("v"),
            arr[3].try_cast("double").alias("t"),
        )
        out = stateful_values(keyed, history_n=history_n, group="g", name="n", value="v", ts="t")
        seen: dict = {}
        q = (
            out.writeStream.outputMode("update")
            .foreachBatch(
                lambda df, bid: seen.update({(r["group"], r["name"]): r for r in df.collect()})
            )
            .start()
        )
        total = sum(v is not None and t is not None for rows in files for *_k, v, t in rows)
        try:
            assert _drain(q, lambda: sum(r["n_updates"] for r in seen.values()) == total)
        finally:
            q.stop()
        return driver_snap, seen

    @staticmethod
    def _assert_same(driver_snap, seen):
        """Every output field of the two stores' snapshots is equal."""
        from dcafs_spark.streaming.values_store import SUMMARY_FIELDS

        assert set(seen) == set(driver_snap)
        for key, s in seen.items():
            for f in SUMMARY_FIELDS:
                # the running sum may add in a different order
                want = pytest.approx(driver_snap[key][f], abs=1e-9) if f == "avg_value" else driver_snap[key][f]
                assert s[f] == want, (key, f)

    def test_snapshots_agree(self, spark, tmp_path):
        import random

        rng = random.Random(99)
        rows = []
        t = 0.0
        for _ in range(60):
            g = rng.choice(["ctd", "nav"])
            n = rng.choice(["a", "b"])
            t += 1.0  # unique increasing ts -> deterministic last/history
            rows.append((g, n, round(rng.uniform(0, 100), 2), t))

        # driver-side store: 4 merge batches; state store: 2 streamed files
        driver_snap, seen = self._both(
            spark,
            tmp_path,
            [rows[i : i + 15] for i in range(0, 60, 15)],
            [rows[lo : lo + 30] for lo in range(0, 60, 30)],
        )

        assert len(seen) >= 4
        assert set(seen) == set(driver_snap)
        for key, s in seen.items():
            d = driver_snap[key]
            assert s["n_updates"] == d["n_updates"], key
            assert s["last_value"] == pytest.approx(d["last_value"]), key
            assert s["min_value"] == pytest.approx(d["min_value"]), key
            assert s["max_value"] == pytest.approx(d["max_value"]), key
            assert s["avg_value"] == pytest.approx(d["avg_value"], abs=1e-9), key
            assert s["hist_avg"] == pytest.approx(d["hist_avg"], abs=1e-9), key
            if d["hist_stdev"] is None:
                assert s["hist_stdev"] is None, key
            else:
                assert s["hist_stdev"] == pytest.approx(d["hist_stdev"], rel=1e-9), key

    def test_late_batch_latest_wins(self, spark, tmp_path):
        """A later batch's value replaces the last value even when its ts
        is older: records are stamped on receipt (Datagram.java:120-132),
        so the latest batch wins, by max ts within a batch."""
        batches = [[("ctd", "temp", 1.0, 10.0)], [("ctd", "temp", 2.0, 5.0)]]
        driver_snap, seen = self._both(spark, tmp_path, batches, batches)
        key = ("ctd", "temp")
        assert driver_snap[key]["last_value"] == 2.0
        assert seen[key]["last_value"] == 2.0
        assert driver_snap[key]["n_updates"] == seen[key]["n_updates"] == 2
        self._assert_same(driver_snap, seen)

    def test_tied_ts_last_is_largest_value(self, spark, tmp_path):
        """Within a batch rows order by (ts, value): 40 values at one ts
        give the largest as last_value at any partition count."""
        import random

        from dcafs_spark.streaming.values_store import ValuesStore

        values = [float(v) for v in random.Random(7).sample(range(40), 40)]
        rows = [("ctd", "temp", v, 1.0) for v in values]
        df = spark.createDataFrame(rows, "group string, name string, value double, ts double")
        for parts in (1, 3, 8):
            store = ValuesStore(history_n=5)
            store.merge_batch(df.repartition(parts))
            assert store.get("ctd", "temp") == 39.0, parts
        driver_snap, seen = self._both(spark, tmp_path, [rows], [rows])
        assert seen[("ctd", "temp")]["last_value"] == 39.0
        self._assert_same(driver_snap, seen)

    def test_null_ts_and_null_values_dropped(self, spark, tmp_path):
        """A row with a NULL ts is dropped like one with a NULL value; a
        key with no complete row is not in either store."""
        rows = [
            ("ctd", "temp", 1.0, 1.0),
            ("ctd", "temp", 5.0, None),
            ("ctd", "temp", 4.0, 2.0),
            ("ctd", "temp", None, 3.0),
            ("ctd", "bad", None, 1.0),
            ("ctd", "bad", 7.0, None),
        ]
        driver_snap, seen = self._both(spark, tmp_path, [rows], [rows])
        key = ("ctd", "temp")
        for snap in (driver_snap, seen):
            assert (snap[key]["n_updates"], snap[key]["max_value"], snap[key]["last_value"]) == (2, 4.0, 4.0)
        assert ("ctd", "bad") not in driver_snap
        self._assert_same(driver_snap, seen)

    def test_key_split_across_two_files(self, spark, tmp_path):
        """One micro-batch reads a key from two files, interleaved in ts
        and tied at the last ts; a second batch follows."""
        a = [("nav", "hdg", float(10 + i), float(2 * i)) for i in range(6)] + [("nav", "hdg", 9.0, 20.0)]
        b = [("nav", "hdg", float(20 + i), float(2 * i + 1)) for i in range(6)] + [("nav", "hdg", 8.0, 20.0)]
        c = [("nav", "hdg", 3.0, 21.0), ("nav", "spd", 1.5, 21.0)]
        driver_snap, seen = self._both(spark, tmp_path, [a + b, c], [a, b, c], files_per_batch=2)
        assert seen[("nav", "hdg")]["n_updates"] == 15
        # ring of 5 in (ts, value) order: 15@10, 25@11, 8@20, 9@20, then 3@21
        assert driver_snap[("nav", "hdg")]["hist_avg"] == round((15 + 25 + 8 + 9 + 3) / 5, 3)
        self._assert_same(driver_snap, seen)


class TestStreamStreamIntervalJoin:
    def test_clicks_join_purchases_within_bound(self, spark, tmp_path):
        """Watermarked stream-stream interval join — the streaming
        analog of the batch asof/range gates: each click pairs with
        purchases by the same user at most 60 s before it. State on
        both sides is bounded by the watermark + interval condition,
        so this runs indefinitely at scale (SURVEY §2.8)."""
        cdir, pdir = tmp_path / "clicks", tmp_path / "purch"
        cdir.mkdir(); pdir.mkdir()
        (cdir / "c1.txt").write_text(
            "u1,2026-01-01 00:01:00\nu2,2026-01-01 00:05:00\n"
        )
        (pdir / "p1.txt").write_text(
            "u1,2026-01-01 00:00:30,9.5\nu2,2026-01-01 00:00:10,7.0\n"
        )

        def parse(dirpath, cols):
            raw = spark.readStream.text(str(dirpath))
            arr = F.split("value", ",")
            out = raw.select(
                arr[0].alias(cols[0]), F.to_timestamp(arr[1]).alias(cols[1]),
                *([arr[2].cast("double").alias(cols[2])] if len(cols) > 2 else []),
            )
            return out

        clicks = parse(cdir, ["c_user", "c_ts"]).withWatermark("c_ts", "2 minutes")
        purch = parse(pdir, ["p_user", "p_ts", "amount"]).withWatermark("p_ts", "2 minutes")
        joined = clicks.join(
            purch,
            F.expr(
                "c_user = p_user AND p_ts BETWEEN c_ts - INTERVAL 60 seconds AND c_ts"
            ),
        ).select("c_user", "amount")
        rows: list = []
        q = (
            joined.writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckj"))
            .foreachBatch(lambda df, bid: rows.extend((r["c_user"], r["amount"]) for r in df.collect()))
            .start()
        )
        try:
            # u1's purchase is 30s before its click (inside the bound);
            # u2's is 290s before (outside) -> exactly one match
            assert _drain(q, lambda: len(rows) >= 1)
        finally:
            q.stop()
        assert rows == [("u1", 9.5)]


class TestStdevTrigger:
    def test_fires_on_history_stdev(self, spark):
        """STDEV trigger type (RealVal.java:515-521): compares the
        rolling history's sample stdev, skips until the window fills,
        hysteresis like comparison rules; $ renders the VALUE."""
        from dcafs_spark.streaming.values_store import TriggerRule, ValuesStore

        fired = []
        store = ValuesStore(history_n=3)
        store.add_rule(
            TriggerRule("g", "x", "stdev",
                        cmd=lambda g, n, v: fired.append(v), comparison="above 0.5")
        )

        def push(vals, t0):
            df = spark.createDataFrame(
                [("g", "x", float(v), t0 + i) for i, v in enumerate(vals)],
                "group string, name string, value double, ts long",
            )
            store.merge_batch(df)

        push([1.0, 1.0], 0)      # window not full -> no fire
        assert fired == []
        push([1.0], 10)          # full window, stdev 0 -> no fire
        assert fired == []
        push([5.0], 20)          # hist [1,1,5] stdev ~2.3 -> fires with value 5
        assert fired == [5.0]
        push([5.0, 5.0], 30)     # stays high then clears: [1,5,5]: ~2.3 (held), [5,5,5]: 0 -> re-armed
        push([9.0], 50)          # [5,5,9] stdev ~2.3 -> fires again
        assert fired == [5.0, 9.0]


class TestFlagEdgeCmds:
    def test_raised_lowered_fire_on_transition(self, spark):
        """FlagVal edge commands (FlagVal.java:104-130): fire only on
        the actual transition, $ renders true/false."""
        from dcafs_spark.streaming.values_store import TriggerRule, ValuesStore

        fired = []
        store = ValuesStore()
        store.add_rule(TriggerRule("g", "pump", "raised", cmd=lambda g, n, v: fired.append(("up", v))))
        store.add_rule(TriggerRule("g", "pump", "lowered", cmd=lambda g, n, v: fired.append(("down", v))))
        store.set_flag("g", "pump", "raise")
        store.set_flag("g", "pump", "raise")   # already up: no re-fire
        store.set_flag("g", "pump", "toggle")  # -> down
        assert fired == [("up", True), ("down", False)]

    def test_xml_flag_cmd_renders_boolean(self, spark):
        from dcafs_spark.engine import Engine

        eng = Engine(spark)
        xml = """
        <das><settings><rtvals><group id="g">
          <flag name="pump" default="false">
            <cmd when="raised">issue:add,pump_on,pump went $</cmd>
          </flag>
        </group></rtvals></settings></das>
        """
        eng.command("pf:load," + xml)
        eng.store.set_flag("g", "pump", "raise")
        assert "pump went true" in eng.command("issue:list")


class TestStateRecoveryAcrossRestart:
    """applyInPandasWithState state must survive a query restart from
    the same checkpoint: the state store (HDFS/RocksDB-backed on a
    cluster) is the durability story that lets a 100 TB ingest pipeline
    crash and resume without re-reading history. Distinct from the
    foreachBatch restart test above — this exercises the OPERATOR
    state, not just source offsets."""

    def test_running_aggregates_resume(self, spark, tmp_path):
        from dcafs_spark.session import CHECKPOINT_MANAGER_KEY, FS_CHECKPOINT_MANAGER
        from dcafs_spark.streaming.stateful import stateful_values

        watch = tmp_path / "w"
        watch.mkdir()
        ck = str(tmp_path / "ck")

        def start(rows):
            raw = spark.readStream.option("maxFilesPerTrigger", 1).text(str(watch))
            arr = F.split("value", ",")
            keyed = raw.select(
                arr[0].alias("g"),
                arr[1].alias("n"),
                arr[2].cast("double").alias("v"),
                arr[3].cast("double").alias("t"),
            )
            out = stateful_values(keyed, history_n=3, group="g", name="n", value="v", ts="t")
            return (
                out.writeStream.outputMode("update")
                .option("checkpointLocation", ck)
                .foreachBatch(lambda df, bid: rows.extend(df.collect()))
                .start()
            )

        # run 1 writes its checkpoint under Spark's default (FileContext)
        # checkpoint file manager; run 2 resumes it under the FileSystem
        # one that get_spark sets on a local master
        assert spark.conf.get(CHECKPOINT_MANAGER_KEY) == FS_CHECKPOINT_MANAGER
        rows1: list = []
        (watch / "b1.txt").write_text("ctd,temp,10,1\nctd,temp,20,2\n")
        spark.conf.unset(CHECKPOINT_MANAGER_KEY)
        try:
            q = start(rows1)
            try:
                assert _drain(q, lambda: len(rows1) >= 1)
                assert rows1[-1]["n_updates"] == 2
                assert rows1[-1]["min_value"] == 10.0
            finally:
                q.stop()
                q.awaitTermination(10)
        finally:
            spark.conf.set(CHECKPOINT_MANAGER_KEY, FS_CHECKPOINT_MANAGER)

        # new file arrives while the query is DOWN; a fresh query on the
        # same checkpoint must resume with the old state (min stays 5's
        # new low, count continues from 2) and not reprocess b1
        (watch / "b2.txt").write_text("ctd,temp,5,3\n")
        rows2: list = []
        q2 = start(rows2)
        try:
            assert _drain(q2, lambda: len(rows2) >= 1)
            last = rows2[-1]
            assert last["n_updates"] == 3  # 2 recovered + 1 new
            assert last["min_value"] == 5.0
            assert last["max_value"] == 20.0  # recovered from state, not b2
        finally:
            q2.stop()
            q2.awaitTermination(10)


class TestCheckpointFileManager:
    def test_local_session_uses_filesystem_manager(self, spark, tmp_path):
        """get_spark on a local master routes streaming checkpoint writes
        through the FileSystem-based manager, and Spark resolves it."""
        from dcafs_spark.session import CHECKPOINT_MANAGER_KEY, FS_CHECKPOINT_MANAGER

        assert spark.sparkContext.master.startswith("local")
        assert spark.conf.get(CHECKPOINT_MANAGER_KEY) == FS_CHECKPOINT_MANAGER
        jvm = spark.sparkContext._jvm
        manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
            spark._jsparkSession.sessionState().newHadoopConf(),
        )
        assert manager.getClass().getName() == FS_CHECKPOINT_MANAGER


class TestValuesStoreReviewRegressions:
    """Round-10 review findings, each reproduced live before fixing."""

    def test_null_values_are_non_measurements(self, spark):
        from dcafs_spark.streaming.values_store import ValuesStore

        store = ValuesStore(history_n=3)
        # all-NULL key: previously TypeError on min(inf, None)
        df = spark.createDataFrame(
            [("g", "a", None, 1.0)], "group string, name string, value double, ts double"
        )
        store.merge_batch(df)
        assert ("g", "a") not in store.state  # nothing to record
        # mixed batch whose LATEST value is NULL: previously last=None
        # and a None polluting the history ring
        df2 = spark.createDataFrame(
            [("g", "a", 5.0, 1.0), ("g", "a", None, 2.0)],
            "group string, name string, value double, ts double",
        )
        store.merge_batch(df2)
        st = store.state[("g", "a")]
        assert st.last == 5.0 and st.history == [5.0] and st.count == 1
        snap = store.snapshot()[0]
        assert snap["last_value"] == 5.0  # snapshot math survives

    def test_update_group_stdev_rule_sees_history(self, spark):
        from dcafs_spark.streaming.values_store import TriggerRule, ValuesStore

        store = ValuesStore(history_n=3)
        fired: list = []
        # threshold between stdev([1,5,9])=4 and stdev([5,9,42])≈20.6:
        # the rule arms during merge_batch and must fire on the FORCED
        # update only if it sees the real rolling window
        store.add_rule(
            TriggerRule("g", "a", "stdev", comparison="above 10",
                        cmd=lambda g, n, v: fired.append(v))
        )
        df = spark.createDataFrame(
            [("g", "a", 1.0, 1.0), ("g", "a", 5.0, 2.0), ("g", "a", 9.0, 3.0)],
            "group string, name string, value double, ts double",
        )
        store.merge_batch(df)
        fired.clear()
        # forced group update must evaluate over the REAL rolling
        # window ([5, 9, 42]) — previously pre_hist was dropped and the
        # stdev rule could never fire from update_group
        assert store.update_group("g", 42.0) == 1
        assert fired == [42.0]

    def test_stdev_rule_history_n_1_never_divides_by_zero(self, spark):
        from dcafs_spark.streaming.values_store import TriggerRule, ValuesStore

        store = ValuesStore(history_n=1)
        store.add_rule(TriggerRule("g", "a", "stdev", comparison="above 0"))
        df = spark.createDataFrame(
            [("g", "a", 3.0, 1.0)], "group string, name string, value double, ts double"
        )
        store.merge_batch(df)  # previously ZeroDivisionError
        assert store.fired_log == []  # sample stdev undefined at n=1


class TestValuesStoreOneAggregation:
    def test_rules_add_no_jobs(self, spark):
        """Ruled-key sequences ride the delta aggregation: a merge with a
        rule issues no more Spark jobs than one without, on the same
        localCheckpointed batch (the runner's fan-out shape)."""
        from dcafs_spark.streaming.values_store import TriggerRule, ValuesStore

        sc = spark.sparkContext
        batch = spark.range(2000).selectExpr(
            "'g' AS group", "CAST(id % 20 AS STRING) AS name",
            "CAST(id % 13 AS DOUBLE) AS value", "CAST(id AS DOUBLE) AS ts",
        ).localCheckpoint(eager=True)

        def jobs(store, tag):
            sc.setJobGroup(tag, tag)
            try:
                store.merge_batch(batch)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return len(sc.statusTracker().getJobIdsForGroup(tag))

        plain = ValuesStore()
        ruled = ValuesStore()
        ruled.add_rule(TriggerRule("g", "3", "comparison", comparison="above 10"))
        n_plain = jobs(plain, "vs_merge_plain")
        n_ruled = jobs(ruled, "vs_merge_ruled")
        assert n_ruled <= n_plain, (n_ruled, n_plain)
        # same per-key state either way; the rule saw the whole sequence
        assert plain.state == ruled.state and len(plain.state) == 20
        assert [v for *_k, v in ruled.fired_log] == [11.0, 12.0] * 8


    def test_batch_deltas_literal(self, spark):
        """A NULL-ts row is dropped, tied ts order by value, the tail keeps
        the last history_n values, and only the ruled key gets a sequence."""
        from dcafs_spark.streaming.values_store import ValuesStore

        df = spark.createDataFrame(
            [
                ("g", "a", 5.0, None),
                ("g", "a", 1.0, 1.0),
                ("g", "a", 3.0, 2.0),
                ("g", "a", 2.0, 2.0),
                ("g", "a", 4.0, 3.0),
                ("g", "a", None, 4.0),
                ("g", "b", 7.0, 1.0),
                ("g", "b", 6.0, 1.0),
                ("g", "b", 9.0, 2.0),
            ],
            "group string, name string, value double, ts double",
        ).repartition(3)
        rows = ValuesStore(history_n=3).batch_deltas(df, seq_keys={("g", "a")}).collect()
        got = {
            r["name"]: (r["d_last"], r["d_min"], r["d_max"], r["d_count"], r["d_sum"], r["d_ts"],
                        r["d_tail"], r["d_seq"])
            for r in rows
        }
        assert got == {
            "a": (4.0, 1.0, 4.0, 4, 10.0, 3.0, [2.0, 3.0, 4.0], [1.0, 2.0, 3.0, 4.0]),
            "b": (9.0, 6.0, 9.0, 3, 22.0, 2.0, [6.0, 7.0, 9.0], []),
        }


class TestSqliteUpsertReviewFixes:
    """Round-10 review: upsert with create=True must actually upsert —
    the generated table previously had no UNIQUE constraint, so every
    ON CONFLICT insert errored into dead_letter (silent total loss)."""

    def test_upsert_creates_unique_and_updates(self, spark, tmp_path):
        from dcafs_spark.sinks.db import SqliteSink

        db = str(tmp_path / "up.db")
        sink = SqliteSink(db, "vals", key_cols=["k"])  # create=True default
        df1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
        assert sink.write_batch(df1) == 2
        assert sink.dead_letter == []
        # replay with one changed row: idempotent update, no dupes
        df2 = spark.createDataFrame([(1, 11.0), (3, 30.0)], "k long, v double")
        assert sink.write_batch(df2) == 2
        assert sink.dead_letter == []
        import sqlite3

        con = sqlite3.connect(db)
        rows = dict(con.execute('SELECT "k", "v" FROM "vals" ORDER BY "k"').fetchall())
        con.close()
        assert rows == {1: 11.0, 2: 20.0, 3: 30.0}

    def test_upsert_all_columns_key_is_do_nothing(self, spark, tmp_path):
        from dcafs_spark.sinks.db import SqliteSink

        db = str(tmp_path / "dedup.db")
        sink = SqliteSink(db, "seen", key_cols=["a", "b"])
        df = spark.createDataFrame([(1, "x"), (1, "x"), (2, "y")], "a long, b string")
        sink.write_batch(df)
        sink.write_batch(df)  # replay: no syntax error, no dead letters
        assert sink.dead_letter == []
        import sqlite3

        con = sqlite3.connect(db)
        n = con.execute('SELECT count(*) FROM "seen"').fetchone()[0]
        con.close()
        assert n == 2  # distinct keys only
