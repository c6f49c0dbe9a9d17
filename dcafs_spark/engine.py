"""Engine facade — the reference's operational surface, Spark-side.

Parity target: dcafs is driven by `prefix:args` commands over telnet
(`src/das/CommandPool.java:123-183`) that create streams/paths/
collectors, subscribe to data, and query values; plus raw SQL
passthrough (`src/util/database/SQLDB.java:449-479`). SURVEY §3.2 maps
this to a thin API whose management verbs mutate a pipeline catalog
and whose data verbs are Spark SQL.

A user of the reference would swap:
    ss:addtcp,id,host:port   → engine.add_source(id, {...})
    pf:addfilter/addmath/... → engine.add_path(id, spec)
    st:stream start          → engine.start(id)
    rv:/rtvals               → engine.values() / engine.get(group,name)
    fc:addblank              → engine.add_file_sink(...)
    (JDBC passthrough)       → engine.sql("...")  (full Spark SQL)
"""

from __future__ import annotations

import re

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from dcafs_spark.issues import IssuePool
from dcafs_spark.plans.dsl import PathSpec, compile_path
from dcafs_spark.scheduler import TaskManager
from dcafs_spark.session import TABLES, get_spark, load_tables
from dcafs_spark.sinks.db import SqliteSink
from dcafs_spark.sinks.file_collector import FileCollector
from dcafs_spark.streaming.runner import StreamingPath
from dcafs_spark.streaming.values_store import TriggerRule, ValuesStore


@dataclass
class PathHandle:
    id: str
    source: dict
    spec: PathSpec
    sinks: list[Callable[[DataFrame, int], Any]] = field(default_factory=list)
    reject_sinks: dict[str, Callable[[DataFrame, int], Any]] = field(default_factory=dict)
    query: Any = None  # StreamingQuery once started
    store_cols: dict | None = None  # values-store column map; None = no store


class Engine:
    """One SparkSession + values store + task manager + path catalog."""

    def __init__(self, spark: SparkSession | None = None, history_n: int = 10):
        self.spark = spark or get_spark("dcafs_engine")
        self.store = ValuesStore(history_n=history_n)
        self.tasks = TaskManager(self.store)
        self.paths: dict[str, PathHandle] = {}
        self.collectors: dict[str, FileCollector] = {}  # fc: family
        self.dbs: dict[str, dict] = {}  # dbm: family catalog
        self.sources: dict[str, dict] = {}  # ss: family — stream catalog
        self.issuepool = IssuePool()  # issue: family — alarm registry
        self.bridges: dict[str, Any] = {}  # network-edge bridges (mqtt, ...)
        self.email_sender = None  # retrieve:/admin:getlogs transport (callable)
        self.stream_writers: dict[str, Any] = {}  # task output="stream:id" routes
        self._settings_xml: str | None = None  # last-loaded settings source
        # interactive forward builders (ff:/ef:/mf: + gens:addblank — the
        # manual's step-by-step pipeline construction workflow): forwards
        # accumulate here until a generic terminates the chain into a path
        self.forwards: dict[tuple[str, str], dict] = {}
        self.val_meta: dict[tuple[str, str], dict] = {}  # <rtvals> unit/scale/options
        from collections import deque

        self._infolog: deque[str] = deque(maxlen=500)  # admin:info tail

    # ------------------------------------------------------------ data verbs
    def sql(self, query: str) -> DataFrame:
        """Full Spark SQL over registered tables (the reference only
        forwarded strings to JDBC — SQLDB.java:449-479)."""
        return self.spark.sql(query)

    def register(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(name)

    def load_tables(self, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
        return load_tables(self.spark, sf_dir, names)

    # ------------------------------------------------------- path management
    def add_source(self, source_id: str, spec: dict) -> dict:
        """Register a stream source spec (the reference's ss:add* —
        `src/io/stream/StreamManager.java:879-911`); paths reference it
        by id. Ids are case-insensitive: ss:addtcp lowercases on
        registration, so every lookup (ss:alter, path references,
        start-time late binding) lowercases too — a user who registers
        'Sensor' must be able to reference 'Sensor'."""
        source_id = source_id.strip().lower()
        spec = {**spec, "id": source_id}
        self.sources[source_id] = spec
        return spec

    def add_path(
        self,
        path_id: str,
        source: dict | str,
        spec: PathSpec,
        store_cols: dict | None = None,
    ) -> PathHandle:
        if isinstance(source, str):  # reference an ss: stream by id
            # resolve now if registered; else defer to start() so XML
            # paths can load before their stream is added (ids are
            # case-insensitive — see add_source)
            source = source.strip().lower()
            source = self.sources.get(source, source)
        handle = PathHandle(path_id, source, spec, store_cols=store_cols)
        self.paths[path_id] = handle
        return handle

    def add_sink(self, path_id: str, sink: Callable[[DataFrame, int], Any], reject_tag: str | None = None):
        h = self.paths[path_id]
        if reject_tag:
            h.reject_sinks[reject_tag] = sink
        else:
            h.sinks.append(sink)

    def add_file_sink(self, path_id: str, directory: str, **kwargs) -> FileCollector:
        fc = FileCollector(directory, **kwargs)
        self.add_sink(path_id, fc.foreach_batch())
        return fc

    def add_sqlite_sink(self, path_id: str, db_path: str, table: str, **kwargs) -> SqliteSink:
        sink = SqliteSink(db_path, table, **kwargs)
        self.add_sink(path_id, sink.foreach_batch())
        return sink

    def start(self, path_id: str, **kwargs):
        h = self.paths[path_id]
        if isinstance(h.source, str):  # late-bound ss: stream reference
            if h.source not in self.sources:
                raise ValueError(
                    f"path '{path_id}' references stream '{h.source}' which is "
                    f"not registered — ss:addtcp,{h.source},host:port first"
                )
            h.source = self.sources[h.source]
        cs = h.spec.get("customsrc") if isinstance(h.spec, dict) else None
        if cs and not h.source:
            # XML <customsrc type=.. interval=..>data</customsrc>: spin up
            # the interval spool on first start (PathForward.java:127-133)
            from dcafs_spark.scheduler import parse_period_s

            sid = f"{path_id}_csrc"
            if sid not in self.sources:
                srctype, _, dbpath = cs.get("type", "plain").partition(":")
                data = (dbpath + "#" + cs.get("data", "")) if srctype == "sqlite" else cs.get("data", "")
                self.add_custom_source(sid, srctype, data, parse_period_s(cs.get("interval", "1s")))
            h.source = self.sources[sid.strip().lower()]
        if not h.source or "kind" not in h.source:
            raise ValueError(
                f"path '{path_id}' has no stream source bound — register one "
                f"(ss:addtcp,{path_id}_src,host:port) and re-add the path with it"
            )
        store_cols = h.store_cols
        sp = StreamingPath(
            self.spark,
            source=h.source,
            path=h.spec,
            store=self.store if store_cols else None,
            store_cols=store_cols or {},
            sinks=h.sinks,
            reject_sinks=h.reject_sinks,
            **kwargs,
        )
        h.query = sp.start(query_name=h.id)
        return h.query

    def stop(self, path_id: str) -> None:
        h = self.paths[path_id]
        if h.query is not None:
            h.query.stop()
            h.query = None

    def stop_all(self) -> None:
        for pid in self.paths:
            self.stop(pid)
        self.tasks.stop()
        for bridge in self.bridges.values():  # mqtt/udp/customsrc tickers
            try:
                bridge.stop()
            except Exception:  # noqa: BLE001 — shutdown must not raise
                pass

    def run_batch(self, path_id: str, df: DataFrame) -> tuple[DataFrame, dict[str, DataFrame]]:
        """Apply a path to a batch DataFrame (replay / testing)."""
        return compile_path(df, self.paths[path_id].spec)

    # --------------------------------------------------------- values verbs
    def values(self) -> list[dict]:
        return self.store.snapshot()

    _VALUES_SCHEMA = (
        "group string, name string, last_value double, min_value double, "
        "max_value double, avg_value double, hist_avg double, hist_stdev double, "
        "n_updates long, last_ts string"
    )

    def values_df(self) -> DataFrame:
        """Current-values snapshot as a queryable DataFrame (explicit
        schema: snapshots legitimately hold all-None columns, e.g.
        hist_stdev before any window fills)."""
        rows = [
            (
                s["group"], s["name"], s["last_value"], s["min_value"], s["max_value"],
                s["avg_value"], s["hist_avg"], s["hist_stdev"], s["n_updates"],
                None if s["last_ts"] is None else str(s["last_ts"]),
            )
            for s in self.store.snapshot()
        ]
        return self.spark.createDataFrame(rows, self._VALUES_SCHEMA)

    def get(self, group: str, name: str) -> float | None:
        return self.store.get(group, name)

    def add_trigger(self, rule: TriggerRule) -> None:
        self.store.add_rule(rule)

    # ------------------------------------------------------ command strings
    _UNKNOWN = "unknown command: "

    def command(self, line: str) -> Any:
        """`prefix:args` command-string dispatch — the reference's second
        entry point (telnet/CommandPool, `src/das/CommandPool.java:123-183`).
        Data verbs return values/DataFrames; management verbs mutate the
        catalog and return status strings, like telnet replies."""
        line = line.strip()
        prefix, _, rest = line.partition(":")
        prefix = prefix.strip().lower()
        args = [a.strip() for a in rest.split(",")] if rest else []

        if prefix == "sql":
            return self.sql(rest)
        if prefix in ("rtvals", "rvs", "rv"):
            if args[:1] == ["resetgroup"] and len(args) == 2:
                return f"Reset {self.store.reset_group(args[1])} vals."
            if args[:1] == ["updategroup"] and len(args) == 3:
                try:
                    val = float(args[2])
                except ValueError:
                    return f"Not a valid number: {args[2]}"
                return f"Updated {self.store.update_group(args[1], val)} vals."
            snap = self.values()
            if args[:1] == ["group"] and len(args) > 1:
                snap = [s for s in snap if s["group"] == args[1]]
            elif args[:1] == ["name"] and len(args) > 1:
                snap = [s for s in snap if s["name"] == args[1]]
            return "\n".join(
                f"{s['group']} -> {s['name']} : "
                + ("None" if s["last_value"] is None else f"{s['last_value']:g}")
                + (
                    f"{self.val_meta[(s['group'], s['name'])]['unit']}"
                    if self.val_meta.get((s["group"], s["name"]), {}).get("unit")
                    else ""
                )
                for s in snap
            ) or "no values"
        if prefix == "rtval":
            if len(args) != 2:
                return self._UNKNOWN + line
            return self.get(args[0], args[1])
        if prefix in ("fv", "flags"):
            if not args:
                return "\n".join(
                    f"{g} -> {n} : {v}" for (g, n), v in sorted(self.store.flags.items())
                ) or "no flags"
            op, *key = args
            if op in ("raise", "lower", "toggle") and len(key) == 2:
                return self.store.set_flag(key[0], key[1], op)
            return self._UNKNOWN + line
        if prefix in ("tv", "texts"):
            if len(args) == 2:
                return self.store.get_text(args[0], args[1])
            return "\n".join(
                f"{g} -> {n} : {v}" for (g, n), v in sorted(self.store.texts.items())
            ) or "no texts"
        if prefix == "pf":
            if args[:1] == ["list"] or not args:
                return "\n".join(
                    f"{pid} : {len(h.spec.get('steps', []))} steps"
                    f" [{'running' if h.query else 'stopped'}]"
                    for pid, h in sorted(self.paths.items())
                ) or "no paths"
            if args[0] == "load" and len(args) >= 2:
                # pf:load,<file-or-xml> — settings.xml paths into the catalog
                from dcafs_spark.plans.xmlconfig import load_paths

                src = rest.partition(",")[2]
                specs = load_paths(src)
                extra = ""
                if not specs:
                    # legacy das-level sectioned layout (manual 'Basic
                    # usage example'): stitch filters/editors/maths/
                    # generics chains, register streams + sqlite dbs
                    from dcafs_spark.plans.xmlconfig import load_das_sections

                    cfg = load_das_sections(src)
                    specs = cfg["paths"]
                    for sid, sspec in cfg["streams"].items():
                        if sspec["kind"] == "tcp":
                            host, _, port = sspec["address"].partition(":")
                            self.add_source(
                                sid,
                                {"kind": "socket", "host": host,
                                 "port": int(port) if port.isdigit() else 0},
                            )
                        else:
                            self.add_source(sid, dict(sspec))
                    for did, dspec in cfg["databases"].items():
                        self.dbs[did] = {
                            "dialect": "sqlite",
                            "path": dspec["path"],
                            "tables": dspec["tables"],
                        }
                    if cfg["streams"] or cfg["databases"]:
                        extra = (
                            f" + {len(cfg['streams'])} stream(s),"
                            f" {len(cfg['databases'])} db(s)"
                        )
                self._settings_xml = src  # upgrade:settings re-applies this
                for pid, spec in specs.items():
                    self.add_path(pid, source=spec.get("src", {}), spec=spec)
                n_vals = self._register_rtvals(src)
                if n_vals:
                    extra += f" + {n_vals} rtval(s)"
                return f"loaded {len(specs)} path(s): {', '.join(sorted(specs))}{extra}"
            if args[0] == "debug" and len(args) >= 3:
                return self._pf_debug(args, rest)
            if args[0] == "stop" and len(args) == 2:
                self.stop(args[1])
                return f"stopped {args[1]}"
            if args[0] == "start" and len(args) == 2:
                try:
                    self.start(args[1])
                except ValueError as exc:  # telnet replies with text, not a stack
                    return str(exc)
                return f"started {args[1]}"
            return self._UNKNOWN + line
        if prefix in ("st", "ss", "streams"):
            if args and args[0].startswith("add"):
                return self._ss_add(args, line)
            if args[:1] == ["alter"]:
                # ss:alter,id,param:value (StreamManager alter — manual
                # quickstart step: ss:alter,sensor,eol:cr)
                if len(args) < 3 or ":" not in rest.split(",", 2)[2]:
                    return "Not enough arguments: ss:alter,id,param:value"
                spec = self.sources.get(args[1].strip().lower())
                if spec is None:
                    return f"No such stream: {args[1]}"
                param, _, value = rest.split(",", 2)[2].partition(":")
                param = param.strip().lower()
                if param == "eol":
                    value = {"cr": "\r", "lf": "\n", "crlf": "\r\n"}.get(value.lower(), value)
                spec[param] = value
                return "Alteration applied"
            lines = [
                f"{pid} : {'running' if h.query else 'stopped'}"
                for pid, h in sorted(self.paths.items())
            ]
            lines += [
                f"source {sid} : {s['kind']}" for sid, s in sorted(self.sources.items())
            ]
            lines += [
                f"bridge {bid} : {type(b).__name__}"
                + (" [stopped]" if getattr(b, "exhausted", False) else "")
                for bid, b in sorted(self.bridges.items())
            ]
            lines.append(f"values: {len(self.store.state)} keys")
            lines.append(f"tasks: {len(self.tasks.tasks)}")
            return "\n".join(lines)
        if prefix == "tm":
            if args[:1] == ["load"] and len(args) >= 2:
                # tm:load,<tasklist-xml-or-path> — reference taskmanager
                # scripts (TaskManager.java:1124-1212)
                from dcafs_spark.scheduler import load_tasklist

                try:
                    n_tasks, n_sets = load_tasklist(rest.partition(",")[2], self)
                except (ValueError, OSError) as exc:
                    return f"Failed to load script: {exc}"
                return f"Loaded {n_tasks} task(s) and {n_sets} taskset(s)"
            if args[:1] == ["run"] and len(args) == 2:
                if args[1] in self.tasks.tasksets:
                    return self.tasks.run_taskset(args[1])
                if args[1] in self.tasks.tasks:
                    return self.tasks.fire(self.tasks.tasks[args[1]])
                return self._UNKNOWN + line
            if args[:1] == ["list"] or not args:
                return "\n".join(
                    [f"task {t}" for t in sorted(self.tasks.tasks)]
                    + [f"taskset {t}" for t in sorted(self.tasks.tasksets)]
                ) or "no tasks"
            return self._UNKNOWN + line
        if prefix == "conv":
            # coordinate conversion (CommandPool 'conv', Tools.java:772-801):
            # each ';'-separated item is decimal degrees or 'deg min sec'
            out = []
            for item in rest.split(";"):
                nrs = item.strip().split(" ")
                if len(nrs) == 1:
                    out.append(float(nrs[0]))
                elif len(nrs) == 3:
                    d, m, s = (float(x) for x in nrs)
                    # minutes/seconds extend the magnitude AWAY from
                    # zero: -5 30 0 is -5.5, not -4.5 (a sign-blind add
                    # shifts every S/W coordinate ~1 degree)
                    frac = (m + round(s / 60.0, 7)) / 60.0
                    out.append(round(d - frac if d < 0 else d + frac, 7))
                else:
                    return self._UNKNOWN + line
            if len(out) == 1:
                return f"{out[0]:g}"
            pairs = [
                f"Result: {out[i]:g} and {out[i + 1]:g}" for i in range(0, len(out) - 1, 2)
            ]
            if len(out) % 2:  # odd count: the tail value must not vanish
                pairs.append(f"Result: {out[-1]:g}")
            return "\n".join(pairs)
        if prefix == "fc":
            return self._fc_command(args, line)
        if prefix == "dbm":
            return self._dbm_command(args, rest, line)
        if prefix in ("ff", "ef", "mf"):
            return self._forward_build_command(prefix, args, rest)
        if prefix == "gens" and args[:1] == ["addblank"]:
            return self._gens_addblank(args)
        if prefix == "gens":
            # list the generic-projection steps across the path catalog
            # (ForwardPool 'gens' listing — src/io/forward/ForwardPool.java)
            out = []
            for pid, h in sorted(self.paths.items()):
                for step in h.spec.get("steps", []):
                    if step.get("type") == "generic":
                        fields = ",".join(
                            f"{f['name']}:{f.get('dtype', 'real')}" for f in step.get("fields", [])
                        )
                        out.append(f"{pid} : {fields}")
            return "\n".join(out) or "no generics"
        if prefix in ("issue", "issues"):
            # IssuePool verbs (reference `src/das/IssuePool.java` +
            # CommandPool dispatch): list/active/add/trip/resolve
            pool = self.issuepool
            if args[:1] == ["list"] or not args:
                return "\n".join(
                    f"{i.id} : {i.message} [{'ACTIVE' if i.active else 'inactive'}]"
                    f" raised {i.count}x"
                    for i in sorted(pool.issues.values(), key=lambda x: x.id)
                ) or "no issues defined"
            if args[0] == "active":
                return "\n".join(
                    f"{i.id} : {i.message}" for i in pool.active()
                ) or "no active issues"
            if args[0] == "add" and len(args) >= 3:
                pool.define(args[1], ",".join(args[2:]))
                return f"defined issue {args[1]}"
            if args[0] in ("trip", "raise") and len(args) >= 2:
                pool.raise_issue(args[1])
                return f"raised {args[1]}"
            if args[0] == "resolve" and len(args) == 2:
                pool.resolve(args[1])
                return f"resolved {args[1]}"
            return self._UNKNOWN + line
        if prefix == "admin":
            return self._admin_command(args, line)
        if prefix == "sd":
            # CommandPool doShutDown: stop everything, reply before exit.
            # In a Spark engine "shutdown" = stop streams + scheduler; the
            # JVM/driver lifecycle belongs to the host process.
            reason = rest or "no reason given"
            self.stop_all()
            self._log(f"shutdown requested: {reason}")
            return f"Shutting down, reason: {reason}"
        if prefix == "ts":
            # doTimeStamping (CommandPool.java:263-267): store the current
            # short UTC time as a text value under the given id.
            if len(args) != 1 or not args[0]:
                return self._UNKNOWN + line
            from datetime import datetime, timezone

            stamp = datetime.now(timezone.utc).strftime("%H:%M:%S")
            group, _, name = args[0].partition("_")
            if not name:
                group, name = "dcafs", args[0]
            self.store.texts[(group, name)] = stamp
            return "update attempted"
        if prefix == "read":
            # doREAD: subscribe the requesting session to a readable's data.
            # The engine-side reply mirrors the reference; the actual
            # subscription is wired by the telnet handler (read:<path-id>
            # behaves like raw:<path-id> there).
            if len(args) != 1 or not args[0]:
                return self._UNKNOWN + line
            return f"Request for readable {args[0]} issued"
        if prefix == "serialports":
            # serial connectors are out of scope (SURVEY §2.1) — reply like
            # a host without ports rather than pretending.
            return "No serial ports found"
        if prefix == "retrieve":
            # doRETRIEVE (CommandPool.java:341-380): email a setup file.
            if getattr(self, "email_sender", None) is None:
                return "Can't retrieve without EmailWorker"
            if args[:1] == ["setup"] and len(args) >= 2:
                body = self._settings_xml or "<dcafs/>"
                self.email_sender(args[1], "Requested file: settings.xml", body)
                return "Tried sending settings.xml"
            return self._UNKNOWN + line
        if prefix == "upgrade":
            # doUPGRADE: re-apply a settings script. Spark-side the only
            # meaningful target is the loaded settings.xml path catalog.
            if args[:1] == ["settings"]:
                if not self._settings_xml:
                    return "No settings loaded to upgrade"
                from dcafs_spark.plans.xmlconfig import load_paths

                specs = load_paths(self._settings_xml)
                for pid, spec in specs.items():
                    self.add_path(pid, source=spec.get("src", {}), spec=spec)
                return f"Reloaded {len(specs)} path(s) from settings"
            return self._UNKNOWN + line
        if prefix == "mqtt":
            # MqttPool verbs (reference MqttPool/MqttWorker publish path):
            # mqtt:brokers | mqtt:send,<host:port>,<topic>,<payload>
            if args[:1] == ["brokers"] or not args:
                lines = [
                    f"{sid} : {s.get('mqtt', s.get('custom', s['kind']))}"
                    for sid, s in sorted(self.sources.items())
                    if "mqtt" in s
                ]
                return "\n".join(lines) or "No brokers yet"
            if args[0] == "send" and len(args) >= 4:
                host, _, port = args[1].partition(":")
                if not port.isdigit():
                    return f"No valid port number: {port}"
                import socket as _socket

                from dcafs_spark.sources.mqtt import (
                    CONNACK,
                    connect_packet,
                    packet as _packet,
                    publish_packet,
                    read_packet,
                )
                from dcafs_spark.sources.mqtt import DISCONNECT as _DISC

                try:
                    s = _socket.create_connection((host, int(port)), timeout=5)
                    try:
                        s.sendall(connect_packet("dcafs_spark_cmd"))
                        ptype, _, _ = read_packet(s)
                        if ptype != CONNACK:
                            return "Broker refused the connection"
                        s.sendall(publish_packet(args[2], ",".join(args[3:]).encode()))
                        s.sendall(_packet(_DISC, 0, b""))
                    finally:
                        s.close()
                except OSError as exc:
                    return f"Failed to reach broker: {exc}"
                return f"Published to {args[2]} at {args[1]}"
            return self._UNKNOWN + line
        if prefix == "reqtasks":
            # doREQTASKS (CommandPool.java:605-618): email the taskset
            # execution log.
            if rest == "?":
                return ":x -> Send a list of all the taskset executions to x"
            if not rest:
                return "No recipient given."
            if self.email_sender is None:
                return "No email functionality active"
            body = "\n".join(f"{sid}: {ev}" for sid, ev in self.tasks.log) or "No executions yet"
            self.email_sender(rest, "Executed tasksets", body)
            return f"Sending log of taskset execution to {rest}"
        if prefix in ("", "stop", "nothing"):
            # CommandPool.java:183-186: clear standing data requests
            return "Clearing requests"
        if prefix in ("help", "h", "?"):
            return (
                "sql:<query> | rtvals[:group,<g>|:name,<n>] | rtval:<g>,<n> | "
                "fv:raise|lower|toggle,<g>,<n> | tv:<g>,<n> | "
                "pf:list|load,<xml>|stop,<id> | st | tm:run,<id>|list | "
                "fc:addnew,<id>,<src>,<path>|list|addrollover|addheader|addsizelimit|alter | "
                "dbm:addsqlite,<id>,<path>|addtable,<id>,<table>,<cols>|query,<id>,<sql>|list | "
                "issue:list|active|add,<id>,<msg>|trip,<id>|resolve,<id> | gens | "
                "ss:addtcp|addudp|addfile|addkafka|addmqtt|addplain|addcmd|addrtvals|addsqlitesrc | "
                "admin:clock|regex|ipv4|gc|lt|info | sd:<reason> | ts:<id> | "
                "read:<id> | retrieve:setup,<to> | upgrade:settings"
            )
        return self._UNKNOWN + line

    def _register_rtvals(self, xml_src: str) -> int:
        """<rtvals> section of a loaded settings.xml → store defaults,
        unit/scale metadata and <cmd when=..> triggered commands
        (RealtimeValues.readFromXML; '$' in a fired command is replaced
        by the value, RealVal.java:507)."""
        from dcafs_spark.plans.xmlconfig import load_rtvals
        from dcafs_spark.streaming.values_store import _KeyState

        try:
            vals = load_rtvals(xml_src)
        except Exception:
            return 0
        for v in vals:
            key = (v["group"], v["name"])
            self.val_meta[key] = {
                "unit": v["unit"], "scale": v["scale"],
                "vtype": v["vtype"], "options": v["options"],
            }
            default = v["default"]
            if v["vtype"] == "flag":
                self.store.flags.setdefault(
                    key, str(default).strip().lower() in ("true", "1", "yes")
                )
            elif v["vtype"] == "text":
                if default is not None:
                    self.store.texts.setdefault(key, str(default))
            elif default is not None and key not in self.store.state:
                try:
                    st = _KeyState()
                    st.last = float(default)
                    self.store.state[key] = st
                except ValueError:
                    pass
            for when, cmd in v["cmds"]:
                if when in ("always", "changed", "raised", "lowered"):
                    kind, comparison = when, None
                elif "stdev" in when:  # 'stdev above 0.5' -> STDEV type
                    kind = "stdev"
                    comparison = when.replace("stdev", "").strip()
                else:
                    kind, comparison = "comparison", when

                def _fire_cmd(_g, _n, val, _c=cmd):
                    if isinstance(val, bool):  # flag edges: true/false (FlagVal.java:108)
                        sub = "true" if val else "false"
                    elif isinstance(val, float):
                        sub = f"{val:g}"
                    else:
                        sub = str(val)
                    return self.command(_c.replace("$", sub))

                self.store.add_rule(
                    TriggerRule(
                        v["group"], v["name"], kind,
                        cmd=_fire_cmd,
                        comparison=comparison,
                    )
                )
        return len(vals)

    # ------------------------------------- ff:/ef:/mf:/gens: builders
    # The manual's interactive pipeline construction (ForwardPool
    # replyToFilterCmd/replyToEditorCmd/replyToMathCmd,
    # src/io/forward/ForwardPool.java:786-830; manual 'Commands to get
    # to that xml'): forwards accumulate as standalone nodes chained by
    # src refs; gens:addblank terminates a chain into a runnable path.

    def _forward_build_command(self, kind: str, args: list[str], rest: str) -> str:
        kmap = {"ff": "filter", "ef": "editor", "mf": "math"}
        k = kmap[kind]
        if not args:
            return self._UNKNOWN + kind
        verb = args[0]
        if verb == "addshort" and k == "filter":
            # ff:addshort,id,src,type:value
            if len(args) < 4:
                return "Not enough arguments, needs to be ff:addshort,id,src,type:value"
            rtype, _, rval = args[3].partition(":")
            self.forwards[(k, args[1])] = {
                "step": {"type": "filter", "rules": [[rtype.strip().lower(), rval]]},
                "src": args[2],
            }
            return f"Filter {args[1]} added"
        if verb in ("addblank", "add", "new"):
            # ef/mf:addblank,id,src[,delimiter]
            if len(args) < 3:
                return f"Not enough arguments: {kind}:addblank,id,src"
            step: dict = {"type": k, "edits": []} if k == "editor" else {"type": k, "ops": []}
            if len(args) > 3 and args[3]:
                step["delimiter"] = args[3]
            self.forwards[(k, args[1])] = {"step": step, "src": args[2]}
            return f"{k.capitalize()} {args[1]} added"
        if verb == "addedit" and k == "editor":
            # ef:addedit,id,type,<content>[,from,index] (redate/retime
            # carry from-pattern and field index)
            if len(args) < 4:
                return "Not enough arguments: ef:addedit,id,type,content"
            node = self.forwards.get((k, args[1]))
            if node is None:
                return f"No editor named {args[1]} yet"
            etype = args[2].strip().lower()
            a: dict = {}
            if etype == "resplit":
                # template may contain commas: everything after the type
                a = {"template": rest.split(",", 3)[3], "leftover": "append"}
            elif etype in ("redate", "retime"):
                # from-pattern is required — _apply_edit compiles
                # redate(c, a['from'], a['to']); catching it here gives a
                # telnet-style reply instead of a KeyError at path-compile
                if len(args) < 5:
                    return f"Not enough arguments: ef:addedit,id,{etype},to,from[,index]"
                a = {"to": args[3], "from": args[4]}
                if len(args) > 5:
                    a["index"] = int(args[5])
            else:
                a = {"text": args[3]} if etype in ("prepend", "append") else {"find": args[3]}
            node["step"]["edits"].append({"kind": etype, "args": a})
            return f"Edit added to {args[1]}"
        if verb == "addop" and k == "math":
            # mf:addop,id,target=formula (formula may contain commas)
            if len(args) < 3:
                return "Not enough arguments: mf:addop,id,target=formula"
            node = self.forwards.get((k, args[1]))
            if node is None:
                return f"No math named {args[1]} yet"
            expr = rest.split(",", 2)[2]
            if "=" in expr:
                target, _, formula = expr.partition("=")
            else:
                target, formula = "i0", expr
            node["step"]["ops"].append({"target": target.strip(), "formula": formula.strip()})
            return f"Op added to {args[1]}"
        if verb == "alter":
            # mf/ef:alter,id,param:value (delim is what the manual uses;
            # parse from the raw rest — the value itself may be a comma)
            if len(args) < 3:
                return f"Not enough arguments: {kind}:alter,id,param:value"
            node = self.forwards.get((k, args[1]))
            if node is None:
                return f"No {k} named {args[1]} yet"
            param, _, value = rest.split(",", 2)[2].partition(":")
            if param.strip().lower() in ("delim", "delimiter"):
                node["step"]["delimiter"] = value
                return f"Altered delimiter of {args[1]}"
            return f"Unknown parameter {param}"
        if verb == "list":
            return "\n".join(
                f"{fid} <- {n['src']}" for (fk, fid), n in sorted(self.forwards.items()) if fk == k
            ) or f"no {k}s"
        return self._UNKNOWN + f"{kind}:{verb}"

    _GENS_LETTERS = {
        "t": "text", "u": "text", "c": "text",
        "r": "real", "i": "integer", "m": "integer",
    }

    def _gens_addblank(self, args: list[str]) -> str:
        """gens:addblank,id,format — format is either letter-coded per
        index (s=skip, r=real, i=int, t/c=text, like dbm's table codes)
        or comma-impossible compact tokens like i2temp (type+index+name,
        ForwardPool.java:959). Terminates the forward chain with id
        `id` into a runnable path."""
        if len(args) < 3:
            return "Not enough arguments: gens:addblank,id,format"
        gid, fmt = args[1], args[2]
        fields = []
        m = re.match(r"^([a-z])(\d+)(\w+)$", fmt)
        if m and m.group(1) in self._GENS_LETTERS:
            fields.append(
                {"name": m.group(3), "index": int(m.group(2)), "dtype": self._GENS_LETTERS[m.group(1)]}
            )
        else:
            for idx, ch in enumerate(fmt):
                if ch == "s":
                    continue
                dtype = self._GENS_LETTERS.get(ch)
                if dtype is None:
                    return f"Unknown format letter '{ch}' in {fmt}"
                fields.append({"name": f"val{idx}", "index": idx, "dtype": dtype})
        gstep = {"type": "generic", "fields": fields}
        # assemble the chain feeding this generic: forward with the same
        # id (math > editor > filter priority, like the label default)
        chain: list[dict] = [gstep]
        src = ""
        key = next(
            ((k, gid) for k in ("math", "editor", "filter") if (k, gid) in self.forwards), None
        )
        seen: set[tuple[str, str]] = set()
        while key is not None and key not in seen:
            seen.add(key)
            node = self.forwards[key]
            chain.insert(0, node["step"])
            ref = node["src"]
            knd, _, rid = ref.partition(":")
            if knd in ("filter", "editor", "math"):
                key = (knd, rid)
            else:
                src = ref
                key = None
        spec: dict = {"id": gid, "delimiter": ",", "steps": chain}
        if src:
            spec["src"] = src
        self.add_path(gid, source=src or {}, spec=spec)
        return f"Generic {gid} added; path assembled with {len(chain)} step(s)"

    def _pf_debug(self, args: list[str], rest: str) -> str:
        """pf:debug,<id>,<stepnr>,<sample line> — run a sample line
        through the first N steps of a path and show the result
        (ForwardPool 'pf:debug', ForwardPool.java:965; -1/0 = raw
        input, k = after step k). Dedicated method so the driver-
        collect guard can allowlist exactly this single-row collect
        instead of the whole command dispatcher."""
        h = self.paths.get(args[1])
        if h is None:
            return f"No such path: {args[1]}"
        try:
            upto = int(args[2])
        except ValueError:
            return f"No valid step number: {args[2]}"
        sample = rest.split(",", 3)[3] if len(args) > 3 else ""
        if not sample:
            return "No sample line given: pf:debug,id,stepnr,line"
        sub = dict(h.spec)
        sub["steps"] = list(h.spec.get("steps", []))[: max(upto, 0)]
        df = self.spark.createDataFrame([(sample,)], "value string")
        out, _rejects = compile_path(df, sub)
        rows = out.collect()
        if not rows:
            return f"step {upto}: line dropped"
        vals = ", ".join(f"{c}={rows[0][c]}" for c in out.columns)
        return f"step {upto}: {vals}"

    # --------------------------------------------------- admin: verbs
    def _log(self, msg: str) -> None:
        from datetime import datetime, timezone

        self._infolog.append(f"{datetime.now(timezone.utc).isoformat(timespec='seconds')} {msg}")

    def _admin_command(self, args: list[str], line: str) -> str:
        """CommandPool doADMIN (CommandPool.java:472-533) — the subset
        meaningful for a Spark driver process: clock, regex tester,
        interface addresses, gc, thread list, info-log tail. Process-
        level verbs (reboot/sleep) stay host concerns."""
        verb = args[0] if args else "?"
        if verb == "clock":
            from datetime import datetime, timezone

            return datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S UTC")
        if verb == "regex" and len(args) >= 3:
            import re as _re

            try:
                pat = _re.compile(args[1])
            except _re.error as exc:
                return f"Invalid regex: {exc}"
            target = ",".join(args[2:])
            return "Matches!" if pat.fullmatch(target) else "No match..."
        if verb in ("ipv4", "ipv6"):
            import socket as _socket

            fam = _socket.AF_INET if verb == "ipv4" else _socket.AF_INET6
            addrs = set()
            try:
                for info in _socket.getaddrinfo(_socket.gethostname(), None, fam):
                    addrs.add(info[4][0])
            except _socket.gaierror:
                pass
            if verb == "ipv4":
                addrs.add("127.0.0.1")
            return "\n".join(sorted(addrs)) or "No addresses found"
        if verb == "gc":
            import gc as _gc

            _gc.collect()
            try:
                self.spark.sparkContext._jvm.System.gc()
            except Exception:
                pass  # no JVM in some test contexts
            return "Garbage collection requested"
        if verb == "lt":
            import threading as _threading

            return "\n".join(
                f"{t.name} [{'daemon' if t.daemon else 'user'}]"
                f"{' ALIVE' if t.is_alive() else ''}"
                for t in _threading.enumerate()
            )
        if verb in ("info", "errors"):
            n = 30
            if len(args) >= 2 and args[1].isdigit():
                n = int(args[1])
            tail = list(self._infolog)[-n:]
            return "\n".join(tail) or "No log lines yet"
        if verb == "?":
            return (
                "admin:clock -> Get the current timestamp\n"
                "admin:regex,<regex>,<match> -> Test a regex\n"
                "admin:ipv4/ipv6 -> Interface addresses\n"
                "admin:gc -> Request garbage collection\n"
                "admin:lt -> Show all threads\n"
                "admin:info,x -> Last x info-log lines"
            )
        return self._UNKNOWN + line

    # --------------------------------------------------- ss: stream management
    def _ss_add(self, args: list[str], line: str) -> str:
        """ss:addtcp,id,host:port / ss:addfile,id,dir / ss:addkafka,
        id,servers,topics — register stream sources for paths to
        reference (StreamManager.java:879-911 addtcp/addudp/addfile;
        UDP has no Spark source — use a local bridge to TCP/file)."""
        verb = args[0]
        if len(args) < 3:
            return f"Bad amount of arguments: ss:{verb},id,..."
        sid = args[1].lower()
        if sid in self.sources:
            return f"Connection exists with that id ({sid}) not creating it"
        if verb == "addtcp":
            if ":" not in args[2]:
                return "No port number specified"
            host, _, port = args[2].partition(":")
            if not port.isdigit():  # telnet-style reply, not a ValueError
                return f"No valid port number: {port}"
            self.add_source(sid, {"kind": "socket", "host": host, "port": int(port)})
            return f"Connected to {sid}, reference it as source '{sid}' in a path"
        if verb == "addfile":
            self.add_source(sid, {"kind": "text", "path": args[2]})
            return f"Watching {args[2]} as source '{sid}'"
        if verb == "addkafka":
            if len(args) < 4:
                return "Bad amount of arguments: ss:addkafka,id,servers,topics"
            self.add_source(sid, {"kind": "kafka", "servers": args[2], "topics": args[3]})
            return f"Subscribed source '{sid}' to {args[3]} at {args[2]}"
        if verb in ("addplain", "addcmd", "addrtvals", "addsqlitesrc"):
            return self._add_custom_source(verb, sid, args, line)
        if verb == "addudp":
            # ss:addudp,id,port[,spool_dir] — UDP datagrams spool into a
            # file-drop dir the text source streams (StreamManager addudp;
            # Structured Streaming has no UDP source)
            if not args[2].isdigit():
                return f"No valid port number: {args[2]}"
            import tempfile

            from dcafs_spark.sources.udp import UdpBridge

            spool = args[3] if len(args) > 3 else tempfile.mkdtemp(prefix=f"udp_{sid}_")
            bridge = UdpBridge(int(args[2]), spool).start()
            self.bridges[sid] = bridge
            self.add_source(sid, {"kind": "text", "path": spool, "udp": bridge.port})
            return f"Listening on udp:{bridge.port} as source '{sid}' (spool {spool})"
        if verb == "addmqtt":
            # ss:addmqtt,id,host:port,topic[;topic2][,spool_dir] — the
            # pure-python 3.1.1 bridge spools PUBLISH payloads into a
            # file-drop dir the text source streams (MqttWorker parity
            # without a connector jar)
            if len(args) < 4:
                return "Bad amount of arguments: ss:addmqtt,id,host:port,topics"
            host, _, port = args[2].partition(":")
            if not port.isdigit():
                return f"No valid port number: {port}"
            import tempfile

            from dcafs_spark.sources.mqtt import MqttBridge

            spool = args[4] if len(args) > 4 else tempfile.mkdtemp(prefix=f"mqtt_{sid}_")
            bridge = MqttBridge(host, int(port), args[3].split(";"), spool).start()
            self.bridges[sid] = bridge
            self.add_source(sid, {"kind": "text", "path": spool, "mqtt": args[2]})
            return f"Subscribed source '{sid}' to {args[3]} at {args[2]} (spool {spool})"
        return self._UNKNOWN + line

    def _add_custom_source(self, verb: str, sid: str, args: list[str], line: str) -> str:
        """Interval custom sources (PathForward CustomSrc,
        `src/io/forward/PathForward.java:435-590`):
          ss:addplain,id,interval,text           — literal line each tick
          ss:addcmd,id,interval,command          — engine command output
          ss:addrtvals,id,interval,template      — {r:}/{utc:} template render
          ss:addsqlitesrc,id,interval,db,query   — query rows, read-once
        Each spools into a file-drop dir the text source streams."""
        from dcafs_spark.scheduler import parse_period_s

        if len(args) < 4:
            return f"Bad amount of arguments: ss:{verb},id,interval,..."
        try:
            interval = parse_period_s(args[2])
        except Exception:
            return f"No valid interval: {args[2]}"
        payload = ",".join(args[3:])
        srctype = verb[3:].replace("sqlitesrc", "sqlite")
        if srctype == "sqlite":
            if len(args) < 5:
                return "Bad amount of arguments: ss:addsqlitesrc,id,interval,db,query"
            payload = args[3] + "#" + ",".join(args[4:])
        spool = self.add_custom_source(sid, srctype, payload, interval)
        return f"Added {srctype} source '{sid}' every {args[2]} (spool {spool})"

    def add_custom_source(self, sid: str, srctype: str, data: str, interval_s: float) -> str:
        """Register an interval custom source (also the target of XML
        `<customsrc type=.. interval=..>data</customsrc>` elements,
        PathForward.java:127-133,333-339). sqlite data is
        'db_path#query'. Returns the spool dir."""
        import tempfile

        from dcafs_spark.scheduler import render_template
        from dcafs_spark.sources.customsrc import IntervalSpool, sqlite_render
        from dcafs_spark.telnet import _render as render_reply

        if srctype == "plain":
            render = lambda: [data]  # noqa: E731
        elif srctype == "cmd":
            render = lambda: render_reply(self.command(data)).split("\n")  # noqa: E731
        elif srctype == "rtvals":
            render = lambda: [render_template(data, self.store)]  # noqa: E731
        elif srctype == "sqlite":
            db, _, query = data.partition("#")
            render = sqlite_render(db, query)
        else:
            raise ValueError(f"no valid srctype '{srctype}'")
        spool = tempfile.mkdtemp(prefix=f"csrc_{sid}_")
        bridge = IntervalSpool(render, interval_s, spool, prefix=sid).start()
        self.bridges[sid] = bridge
        self.add_source(sid, {"kind": "text", "path": spool, "custom": srctype})
        return spool

    # ----------------------------------------------- fc: collector management
    def _fc_command(self, args: list[str], line: str) -> str:
        """FileCollector management verbs (reference CollectorPool
        `src/io/collector/CollectorPool.java:132-200`), mapped onto the
        Spark-native FileCollector: rollover → date_trunc partition
        column, sizelimit → maxRecordsPerFile, zip → writer codec."""
        if not args or args[0] in ("?", "list") and len(args) == 1:
            if args and args[0] == "list":
                return "\n".join(
                    f"{fid} : path={fc.path} fmt={fc.fmt} rollover={fc.rollover}"
                    for fid, fc in sorted(self.collectors.items())
                ) or "no filecollectors"
            return (
                "fc:addnew,id,src,path | fc:list | fc:addrollover,id,count,unit,format,zip? | "
                "fc:addheader,id,header | fc:addsizelimit,id,records,zip? | fc:alter,id,param:value"
            )
        verb = args[0]
        if verb in ("addnew", "add"):
            if len(args) < 4:
                return "Not enough arguments: fc:addnew,id,src,path"
            fid, src, path = args[1], args[2], args[3]
            fc = FileCollector(path)
            self.collectors[fid] = fc
            if src in self.paths:
                self.add_sink(src, fc.foreach_batch())
                return f"FileCollector {fid} created, sink attached to {src}."
            return f"FileCollector {fid} created (source {src} not in catalog yet)."
        fc = self.collectors.get(args[1]) if len(args) > 1 else None
        if fc is None:
            return f"No such fc: {args[1] if len(args) > 1 else '?'}"
        if verb == "addrollover":
            if len(args) < 4:
                return "Not enough arguments: fc:addrollover,id,count,unit,format,zip?"
            fc.rollover = args[3]
            # the count was previously dropped (every-2-hours became
            # hourly, round-11 review); multiples of min/hour/day bucket
            # by epoch floor-division in the collector
            fc.rollover_count = int(args[2]) if args[2].isdigit() and int(args[2]) > 0 else 1
            fc.zip_rollover = len(args) > 5 and args[5].lower() in ("yes", "true", "1")
            return "Rollover added"
        if verb == "addheader":
            if len(args) < 3:
                return "Not enough arguments: fc:addheader,id,header"
            fc.header = args[2]
            return f"Header line added to {args[1]}"
        if verb == "addsizelimit":
            if len(args) < 3:
                return "Not enough arguments: fc:addsizelimit,id,records,zip?"
            fc.max_records_per_file = int(args[2])
            if len(args) > 3:
                fc.zip_rollover = args[3].lower() in ("yes", "true", "1")
            return f"Size limit added to {args[1]}"
        if verb == "alter":
            if len(args) < 3 or ":" not in args[2]:
                return "Not enough arguments: fc:alter,id,param:value"
            param, _, value = args[2].partition(":")
            if param == "path":
                fc.path = value
            elif param == "fmt":
                fc.fmt = value
            elif param == "src" and value in self.paths:
                self.add_sink(value, fc.foreach_batch())
            else:
                return f"unknown alter param: {param}"
            return f"Altered {param} of {args[1]}"
        return self._UNKNOWN + line

    # ------------------------------------------------ dbm: database management
    _DB_DIALECTS = ("mysql", "mariadb", "postgresql", "mssql")

    def _dbm_command(self, args: list[str], rest: str, line: str) -> Any:
        """Database-manager verbs (reference DatabaseManager
        `src/util/database/DatabaseManager.java:444-570`). addsqlite is
        live (sqlite3 in-process); the server dialects register a JDBC
        catalog entry + generated DDL — executing them needs a server,
        which the sandbox doesn't have."""
        import sqlite3

        from dcafs_spark.sinks.db import ddl_for

        if not args or args[0] == "?":
            return (
                "dbm:addsqlite,id,path | dbm:addmysql|addmariadb|addpostgresql|addmssql,"
                "id,db,host,user:pass | dbm:addtable,id,table,name:type,... | "
                "dbm:query,id,sql | dbm:list"
            )
        verb = args[0]
        if verb == "list":
            return "\n".join(
                f"{did} : {d['dialect']} {d.get('path', d.get('url', ''))} "
                f"tables={','.join(sorted(d['tables'])) or '-'}"
                for did, d in sorted(self.dbs.items())
            ) or "no databases"
        if verb == "addsqlite":
            if len(args) < 3:
                return "Not enough arguments: dbm:addsqlite,id,path"
            self.dbs[args[1]] = {"dialect": "sqlite", "path": args[2], "tables": {}}
            sqlite3.connect(args[2]).close()  # touch the file like the reference
            return f"Created SQLite at {args[2]} and wrote to settings catalog"
        if verb.startswith("add") and verb[3:] in self._DB_DIALECTS:
            if len(args) < 5:
                return f"Not enough arguments: dbm:{verb},id,db,host,user:pass"
            dialect = verb[3:]
            user = args[4].partition(":")[0]
            self.dbs[args[1]] = {
                "dialect": dialect,
                "url": f"jdbc:{dialect}://{args[3]}/{args[2]}",
                "user": user,
                "tables": {},
            }
            return f"Registered {dialect} db {args[1]} at {args[3]}/{args[2]}"
        db = self.dbs.get(args[1]) if len(args) > 1 else None
        if db is None:
            return f"No such db: {args[1] if len(args) > 1 else '?'}"
        if verb == "addtable":
            if len(args) < 4:
                return "Not enough arguments: dbm:addtable,id,table,name:type,..."
            table = args[2]
            _LETTER_SQL = {
                "t": "timestamp", "u": "timestamp", "m": "long",
                "r": "double", "i": "long", "c": "string",
            }
            if len(args) == 4 and ":" not in args[3] and all(c in _LETTER_SQL for c in args[3]):
                # letter-coded format like the manual's 'trii'
                # (SqlTable.addBlankToXML, SqlTable.java:680-695):
                # placeholder column names, rename via XML later
                schema = ", ".join(
                    f"col{i}_{_LETTER_SQL[c]} {_LETTER_SQL[c]}" for i, c in enumerate(args[3])
                )
            else:
                fields = [c.partition(":") for c in args[3:]]
                schema = ", ".join(f"{n} {t or 'string'}" for n, _, t in fields)
            df = self.spark.createDataFrame([], schema)
            ddl = ddl_for(df, table, db["dialect"])
            db["tables"][table] = schema
            if db["dialect"] == "sqlite":
                con = sqlite3.connect(db["path"])
                try:
                    con.execute(ddl)
                    con.commit()
                finally:
                    con.close()
                return f"Created table {table}"
            return ddl  # server dialects: hand back the DDL to run there
        if verb == "tables":
            # dbm:tables,<id> — list the db's tables + columns (manual
            # quickstart verification step)
            if not db["tables"]:
                return f"No tables in {args[1]}"
            return "\n".join(f"{t} : {s}" for t, s in sorted(db["tables"].items()))
        if verb == "query":
            sql = rest.partition(",")[2].partition(",")[2]
            if db["dialect"] != "sqlite":
                return "query only supported for sqlite in-process"
            con = sqlite3.connect(db["path"])
            try:
                return con.execute(sql).fetchall()
            finally:
                con.close()
        if verb == "store":
            # dbm:store,dbid,table,pathid — wire a path's output into a
            # table (the reference's <store db="id:table"> wiring)
            if len(args) < 4:
                return "Not enough arguments: dbm:store,id,table,pathid"
            if db["dialect"] != "sqlite":
                return "store only supported for sqlite in-process"
            if args[3] not in self.paths:
                return f"No such path: {args[3]}"
            self.add_sqlite_sink(args[3], db["path"], args[2])
            return f"Storing path {args[3]} into {args[1]}.{args[2]}"
        return self._UNKNOWN + line
