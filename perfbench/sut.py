"""The system under test, driven by ``run.py`` over a line protocol.

This process holds the program: one SparkSession (the JVM and its Python
workers hang off it), the registry and the ingest daemon. It reads one
JSON command per line on stdin and answers with one ``@@``-prefixed JSON
line on stdout; anything else on stdout is ignored by the driver side.

It calls only the program's public entry points (``session.get_spark``,
``registry``, ``config.load_config``, ``streaming.ingest.run_from_config``,
``sources.audit_xml``, ``functions.gzip_codec``, ``testing``). With
tracing on it also records spans around those calls, gives every query
and phase its own Spark job group, and reads Spark's own metrics back: the
planning tracker of each executed query and the status store's stage
data.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

PREFIX = "@@"


def emit(ev: str, **kw) -> None:
    sys.stdout.write(PREFIX + json.dumps({"ev": ev, **kw}) + "\n")
    sys.stdout.flush()


class Spans:
    """In-memory spans: (name, start, end, parent, attrs). Written out by
    the driver side when the run ends."""

    def __init__(self, on: bool):
        self.on = on
        self.rows: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: str | None = None, **attrs) -> None:
        if self.on:
            self.rows.append({"name": name, "start": start, "end": end, "parent": parent, **attrs})


class PlanningListener:
    """QueryExecutionListener (via py4j) keeping each executed query's
    optimization and planning time, as Spark's QueryPlanningTracker
    recorded them."""

    def __init__(self):
        self.phases: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        ph = qe.tracker().phases()
        self.phases.append(
            {p: ph.apply(p).durationMs() for p in ("optimization", "planning") if ph.contains(p)}
        )

    def onFailure(self, func_name, qe, exc):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Sut:
    def __init__(self, trace: bool):
        self.trace = trace
        self.spans = Spans(trace)
        t0 = time.time()
        from oraaud_kafka_spark import registry
        from oraaud_kafka_spark.session import get_spark

        self.registry = registry
        tmp, mem = os.environ["TMPDIR"], os.environ["SPARK_GRAFT_DRIVER_MEM"]
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                # The heap has its full size from the start, but it is not
                # pre-touched, so its pages become resident as they are
                # used; the young generation has a fixed share of it. With
                # the heap left to grow and the young generation left to
                # the collector, peak PSS moved from 1634 to 1855 MB over
                # three identical runs; pinned, from 1485 to 1500 MB.
                # No perf-data file: the JVM writes it to the system temp
                # directory, outside the run's work directory.
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem} -XX:+UnlockExperimentalVMOptions "
                    "-XX:G1NewSizePercent=25 -XX:G1MaxNewSizePercent=25"
                ),
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.time()
        registry.load_all()
        t2 = time.time()
        self.spans.add("session.get_spark", t0, t1)
        self.spans.add("registry.load_all", t1, t2)
        self.session_s, self.registry_load_s = t1 - t0, t2 - t1
        self.sc = self.spark.sparkContext
        self.query = None
        self.listener = None
        if trace:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(self.sc._gateway)
            self.listener = PlanningListener()
            self.spark._jsparkSession.listenerManager().register(self.listener)

    # -- Spark's own metrics, read back in trace mode -----------------------

    def _drain_listeners(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs_in_groups(self, groups: list[str]) -> list[int]:
        self._drain_listeners()
        tracker = self.sc.statusTracker()
        return [j for g in groups for j in tracker.getJobIdsForGroup(g)]

    def jobs_after(self, last: int) -> list[int]:
        """Every job with an id above ``last``. The daemon's foreachBatch
        jobs start from a callback thread that does not inherit the
        stream's job group, so the daemon's jobs are taken by id range."""
        self._drain_listeners()
        jobs = self.sc._jsc.sc().statusStore().jobsList(None)
        return [j for j in (jobs.apply(i).jobId() for i in range(jobs.size())) if j > last]

    def stage_stats(self, job_ids: list[int]) -> dict:
        """Stages, tasks and stage metrics of the given jobs, from the
        status store."""
        tracker, store = self.sc.statusTracker(), self.sc._jsc.sc().statusStore()
        out = dict(jobs=len(job_ids), stages=0, tasks=0, run_ms=0, cpu_ms=0.0, input_b=0,
                   shuffle_read_b=0, shuffle_write_b=0, spill_b=0)
        for job in job_ids:
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["run_ms"] += sd.executorRunTime()
                out["cpu_ms"] += sd.executorCpuTime() / 1e6
                out["input_b"] += sd.inputBytes()
                out["shuffle_read_b"] += sd.shuffleReadBytes()
                out["shuffle_write_b"] += sd.shuffleWriteBytes()
                out["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def _planning(self) -> dict:
        if self.listener is None:
            return {}
        self._drain_listeners()
        phases, self.listener.phases = self.listener.phases, []
        return {p: sum(x.get(p, 0) for x in phases) for p in ("optimization", "planning")}

    # -- commands -------------------------------------------------------------

    def daemon_start(self, config: str, checkpoint: str) -> dict:
        from oraaud_kafka_spark.config import load_config
        from oraaud_kafka_spark.streaming.ingest import run_from_config

        self.last_job = max(self.jobs_after(-1), default=-1) if self.trace else -1
        t0 = time.time()
        self.query = run_from_config(self.spark, load_config(config), checkpoint_dir=checkpoint)
        self.spans.add("ingest.run_from_config", t0, time.time())
        return {}

    def daemon_stop(self) -> dict:
        q, self.query = self.query, None
        t0 = time.time()
        q.stop()
        self.spans.add("ingest.stop", t0, time.time())
        progress = [json.loads(p.json) for p in q.recentProgress]
        stats = self.stage_stats(self.jobs_after(self.last_job)) if self.trace else {}
        return {"progress": progress, "exec": stats}

    def query_pass(self, names: list[str], sf_dir: str, tag: str) -> dict:
        queries = self.registry.all_queries()
        calls = []
        self._planning()  # drop what the queries before this pass planned
        p0 = time.time()
        for name in names:
            build_group, run_group = f"{tag}:{name}:build", f"{tag}:{name}:run"
            if self.trace:
                self.sc.setJobGroup(build_group, build_group)
            t0 = time.time()
            try:
                df = queries[name](self.spark, sf_dir)
                t1 = time.time()
                if self.trace:
                    self.sc.setJobGroup(run_group, run_group)
                df.write.format("noop").mode("overwrite").save()
                err = None
            except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
                t1, err = time.time(), f"{type(e).__name__}: {str(e)[:300]}"
            t2 = time.time()
            call = {"name": name, "build_s": t1 - t0, "total_s": t2 - t0, "error": err}
            if self.trace:
                call["build_jobs"] = len(self.jobs_in_groups([build_group]))
            self.spans.add("registry.build", t0, t1, parent=f"pass:{tag}", query=name)
            self.spans.add("exec.noop_write", t1, t2, parent=f"pass:{tag}", query=name)
            calls.append(call)
        self.spans.add(f"pass:{tag}", p0, time.time())
        if self.trace:
            self.sc.setJobGroup("perfbench", "perfbench")
        return {"calls": calls, "planning": self._planning()}

    def check(self, names: list[str], sf_dir: str) -> dict:
        """Each query's rows against its DuckDB oracle on the same files."""
        from oraaud_kafka_spark.testing import compare_frames, run_oracle

        queries, oracles = self.registry.all_queries(), self.registry.all_oracles()
        problems = {}
        for name in names:
            if name not in oracles:
                problems[name] = ["no oracle registered"]
                continue
            got = compare_frames(queries[name](self.spark, sf_dir).toPandas(),
                                 run_oracle(oracles[name], sf_dir))
            if got:
                problems[name] = got[:5]
        return {"problems": problems}

    def probe(self, directory: str) -> dict:
        """Time the batch path's public calls on one corpus, each with a
        noop write: the read plus completeness gate, then the Kinesis
        payload codec over the gated frame."""
        from pyspark.sql import functions as F

        from oraaud_kafka_spark.functions.gzip_codec import conditional_gzip
        from oraaud_kafka_spark.sources.audit_xml import complete_only, read_audit_batch, rejects

        t0 = time.time()
        gated = complete_only(read_audit_batch(self.spark, directory))
        gated.write.format("noop").mode("overwrite").save()
        t1 = time.time()
        payload = gated.select(conditional_gzip(F.col("value")).alias("p"))
        payload.write.format("noop").mode("overwrite").save()
        t2 = time.time()
        withheld = rejects(read_audit_batch(self.spark, directory)).count()
        wire = payload.agg(F.sum(F.octet_length("p"))).first()[0] or 0
        self.spans.add("sources.read_gate", t0, t1, parent="probe")
        self.spans.add("codec.conditional_gzip", t1, t2, parent="probe")
        return {"read_gate_s": t1 - t0, "gzip_s": t2 - t1, "withheld": withheld, "wire_bytes": wire}


def main() -> int:
    trace = "--trace" in sys.argv
    try:
        sut = Sut(trace)
    except ImportError as e:
        emit("error", message=f"cannot import the program: {e}")
        return 3
    emit("up", session_s=sut.session_s, registry_load_s=sut.registry_load_s)
    for line in sys.stdin:
        msg = json.loads(line)
        cmd = msg.pop("cmd")
        if cmd == "quit":
            break
        try:
            emit(cmd, **getattr(sut, cmd)(**msg))
        except Exception as e:  # noqa: BLE001 - report, let the driver decide
            emit("error", message=f"{cmd}: {type(e).__name__}: {e}", tb=traceback.format_exc()[-2000:])
    if sut.query is not None:
        sut.query.stop()
    emit("bye", spans=sut.spans.rows)
    sut.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
