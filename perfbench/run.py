"""Benchmark of the audit daemon, end to end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads:

- ``ingest_backlog``: the daemon (``config.load_config`` then
  ``streaming.ingest.run_from_config``, Kinesis sink) drains bursts of
  audit files up to ~1 MB into a loopback PutRecords endpoint.
- ``ingest_trickle``: small audit files arrive as a seeded Poisson process
  while one daemon runs with the default 1 s trigger.

A traced run also times the batch read path and the payload codec, and
runs a few registered queries cold and warm on a seeded table set,
checked against their DuckDB oracles.

This process is the load generator and the broker stub; the program runs
in a child process (``sut.py``) with its own JVM. The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``, the end-to-end metrics without ``--trace``, the per-layer
metrics with it. See README.md for the definitions.
"""

from __future__ import annotations

import argparse
import asyncio
import json
import os
import random
import shutil
import signal
import socket
import statistics
import sys
import time
from datetime import datetime, timezone
from urllib.parse import unquote, urlparse

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import fixtures  # noqa: E402
from endpoint import KinesisStub  # noqa: E402

ROOT = os.getcwd()
NPROC = os.cpu_count() or 2
# Spark gets half the cores: the other half is left to the generator,
# the endpoint and the JVM's own threads. With all four cores, identical
# backlog drains ranged from 8.3 to 10.8 MB/s.
SPARK_THREADS = max(1, NPROC // 2)
# The program's default driver heap is 16g; 1g leaves the machine's
# memory to others and is ample for these inputs.
DRIVER_MEM = "1g"
# setup_s is the median of this many daemon bring-ups in one process. The
# first in a JVM pays for class loading and JIT (~8 s against 1-2 s).
BRINGUPS = 5

# Backlog: a running daemon drains bursts. 46 complete files (5
# newline-terminated) and 2 truncated .xml files make three full triggers
# of 16; 2 more complete files go under .txt.
BACKLOG_MIX = {"whole": 41, "newline": 5, "truncated": 2, "nonxml": 2}
BACKLOG_RECORDS = (16, 2100)  # ~8 KB to ~1 MB per file
BACKLOG_INTERVAL_MS = 100  # the drain is not paced by the 1 s default clock
BACKLOG_ROUND_S = 3.0  # one round: land the burst, wait until the daemon drained it
# Trickle: per round of 18 arrivals, 14 files written whole (one under
# 512 bytes), 1 newline-terminated, 1 in two parts, 1 truncated, 1 .txt.
TRICKLE_MIX = {"whole": 13, "tiny": 1, "newline": 1, "twopart": 1, "truncated": 1, "nonxml": 1}
TRICKLE_RECORDS = (1, 16)
# Files per second, a third of the highest rate at which the daemon kept up
# on a 4-core machine (README.md): at 30 files/s a trigger took 716 ms at
# the median, at 45 files/s triggers took 1.6-2.7 s and the backlog grew.
# 27 s of arrivals give 210 latency samples.
TRICKLE_RATE = 10.0
PROBE_MIX = {"whole": 12, "newline": 2, "truncated": 1, "nonxml": 1}
DEADLINE_S = 60.0  # a complete file not acknowledged this long after completion failed
SETTLE_S = 10.0  # after the last arrival, the longest wait for the daemon to catch up

# Registered queries that a traced run times cold and warm, for the
# registry, Catalyst and execution layers that ingest never reaches: a
# scan with grouped aggregate, a star join, a builder that runs Spark
# jobs, and an Arrow UDF. Each is checked against its DuckDB oracle.
QUERIES = ["q1_pricing_summary", "q_join_5way_revenue", "q_time_session_window", "q_udf_pandas_scalar"]
TABLES_SF = 0.01
GZIP_THRESHOLD = 512
ACCESS_KEY, ACCESS_SECRET = "perfbench-key", "perfbench-secret"


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, p: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[min(len(xs) - 1, max(0, int(round(p * len(xs) + 0.5)) - 1))] if xs else 0.0


class BenchError(RuntimeError):
    pass


def rounds(seconds: float, round_s: float) -> int:
    """Whole rounds that fill about ``seconds`` on a 4-core machine. The
    count depends on the run length only, never on how fast the program
    runs, so every run of one length does the same work and fails the
    same share of it."""
    return max(1, round(seconds / round_s))


# -- the system under test ----------------------------------------------------


class Sut:
    """The child process that holds the program, and the sampler of its
    resident memory (the JVM and its Python workers included)."""

    def __init__(self, work: str, port: int, trace: bool):
        self.work, self.port, self.trace = work, port, trace
        self.peak_pss_kb = 0
        self.sampling = True

    async def start(self, access_key: str, access_secret: str) -> dict:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(
            os.environ,
            PYTHONPATH=ROOT,
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=tmp,
            SPARK_GRAFT_CPUS=str(SPARK_THREADS),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            PYSPARK_PYTHON=sys.executable,
            SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
            AWS_ENDPOINT_URL_KINESIS=f"http://127.0.0.1:{self.port}",
            # a2.kinesis.access.key/secret are parsed but never handed to
            # boto3.client, so the same values go in as environment
            # credentials.
            AWS_ACCESS_KEY_ID=access_key,
            AWS_SECRET_ACCESS_KEY=access_secret,
            AWS_CONFIG_FILE=os.path.join(tmp, "aws-config"),
            AWS_SHARED_CREDENTIALS_FILE=os.path.join(tmp, "aws-credentials"),
            AWS_EC2_METADATA_DISABLED="true",
        )
        env.pop("OMP_NUM_THREADS", None)
        self.t_spawn = time.time()
        self.stderr = open(os.path.join(self.work, "sut.log"), "wb")
        args = [sys.executable, os.path.join(HERE, "sut.py")] + (["--trace"] if self.trace else [])
        self.proc = await asyncio.create_subprocess_exec(
            *args, stdin=asyncio.subprocess.PIPE, stdout=asyncio.subprocess.PIPE,
            stderr=self.stderr, cwd=tmp, env=env, limit=1 << 28,
        )
        self.sampler = asyncio.ensure_future(self._sample())
        up = await self.recv("up")
        up["up_s"] = time.time() - self.t_spawn
        return up

    async def _sample(self) -> None:
        # The peak of a 0.5 s rolling median: twice in ~20 runs a single
        # sample read 1.5 GB above its neighbours, which no later sample
        # confirmed.
        window: list[int] = []
        while self.sampling:
            window = (window + [tree_pss_kb(self.proc.pid)])[-5:]
            self.peak_pss_kb = max(self.peak_pss_kb, int(statistics.median(window)))
            await asyncio.sleep(0.1)

    async def recv(self, ev: str) -> dict:
        while True:
            line = await self.proc.stdout.readline()
            if not line:
                with open(self.stderr.name, "rb") as f:
                    tail = f.read()[-2000:].decode(errors="replace")
                raise BenchError(f"the program exited while {ev!r} was awaited; its stderr ends:\n{tail}")
            if not line.startswith(b"@@"):
                continue
            msg = json.loads(line[2:])
            if msg["ev"] == "error":
                raise BenchError(msg["message"] + "\n" + msg.get("tb", ""))
            if msg["ev"] == ev:
                return msg

    async def call(self, cmd: str, **kw) -> dict:
        self.proc.stdin.write((json.dumps({"cmd": cmd, **kw}) + "\n").encode())
        await self.proc.stdin.drain()
        return await self.recv(cmd)

    async def close(self) -> list[dict]:
        self.sampling = False
        spans = []
        tree = descendants(self.proc.pid)
        if self.proc.returncode is None:
            try:
                self.proc.stdin.write(b'{"cmd": "quit"}\n')
                await self.proc.stdin.drain()
                spans = (await asyncio.wait_for(self.recv("bye"), 60))["spans"]
                await asyncio.wait_for(self.proc.wait(), 60)
            except (BenchError, ConnectionError, asyncio.TimeoutError):
                pass
            if self.proc.returncode is None:
                kill(descendants(self.proc.pid))
                await self.proc.wait()
        # the JVM and the Python worker daemon end with the program's
        # process; wait for them, and end any that outlive it
        deadline = time.time() + 30
        while time.time() < deadline and any(alive(p) for p in tree):
            await asyncio.sleep(0.1)
        kill([p for p in tree if alive(p)])
        self.stderr.close()
        return spans


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
    except OSError:
        pass
    return out


def tree_pss_kb(pid: int) -> int:
    """Proportional set size of ``pid`` and every process below it: a page
    shared by n processes counts 1/n in each, so the Python workers that
    the daemon forks do not count the pages they share with it twice."""
    total, stack = 0, [pid]
    while stack:
        p = stack.pop()
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                total += next((int(ln.split()[1]) for ln in f if ln.startswith("Pss:")), 0)
        except OSError:
            continue
        stack += _children(p)
    return total


def alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it."""
    pids, stack = [], [pid]
    while stack:
        p = stack.pop()
        pids.append(p)
        stack += _children(p)
    return pids


def kill(pids: list[int]) -> None:
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# -- the daemon's checkpoint, read from outside ---------------------------------


class Checkpoint:
    """The file source's log (which batch listed which file) and the
    commit log of a daemon checkpoint."""

    def __init__(self, path: str):
        self.path = path
        self._parsed: dict[str, list[tuple[str, int]]] = {}

    def listed(self) -> dict[str, int]:
        d = os.path.join(self.path, "sources", "0")
        try:
            names = [n for n in os.listdir(d) if not n.startswith(".")]
        except FileNotFoundError:
            return {}
        out = {}
        for n in names:
            if n not in self._parsed:
                with open(os.path.join(d, n)) as f:
                    entries = [json.loads(ln) for ln in f.read().splitlines()[1:] if ln.strip()]
                self._parsed[n] = [(unquote(urlparse(e["path"]).path), e["batchId"]) for e in entries]
            out.update(self._parsed[n])
        return out

    def committed(self) -> set[int]:
        try:
            return {int(n) for n in os.listdir(os.path.join(self.path, "commits")) if n.isdigit()}
        except FileNotFoundError:
            return set()

    def settled(self, paths) -> bool:
        """Every path was listed by a batch that committed: a listed file
        the endpoint has not seen by then is never delivered."""
        listed, done = self.listed(), self.committed()
        return all(p in listed and listed[p] in done for p in paths)


def progress_start(p: dict) -> float:
    return datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


# -- the bench --------------------------------------------------------------------


class Bench:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.trace = bool(args.trace)
        self.stub = KinesisStub()
        self.host = socket.gethostname()
        self.files: dict[str, corpus.AuditFile] = {}  # absolute path -> file
        self.arrived: dict[str, float] = {}  # absolute path -> complete on disk
        self.problems: list[str] = []
        self.layer: dict[str, float] = {}
        self.spans: list[dict] = []

    def span(self, name: str, start: float, end: float, parent: str | None = None, **attrs) -> None:
        if self.trace:
            self.spans.append({"name": name, "start": start, "end": end, "parent": parent, **attrs})

    # ---- ingest helpers

    def config(self, watched: str, workers: int, interval_ms: int) -> str:
        path = os.path.join(os.path.dirname(watched), "oraaud-kafka.conf")
        with open(path, "w") as f:
            f.write(
                f"a2.watched.path = {watched}\n"
                "a2.target.broker = kinesis\n"
                f"a2.worker.count = {workers}\n"
                f"a2.locked.file.query.interval = {interval_ms}\n"
                "a2.kinesis.stream = audit\n"
                "a2.kinesis.region = us-east-1\n"
                f"a2.kinesis.access.key = {ACCESS_KEY}\n"
                f"a2.kinesis.access.secret = {ACCESS_SECRET}\n"
                f"a2.kinesis.file.size.threshold = {GZIP_THRESHOLD}\n"
            )
        return path

    def dirs(self, tag: str) -> tuple[str, str]:
        watched, ckpt = os.path.join(self.work, tag, "watched"), os.path.join(self.work, tag, "ckpt")
        os.makedirs(watched)
        return watched, ckpt

    def land(self, watched: str, f: corpus.AuditFile, tmp: str | None = None) -> str:
        """Rename a file into the watched directory (staging it first if
        ``tmp`` is not given) and note when it arrived."""
        path = corpus.land(watched, f, tmp or corpus.stage(watched, f))
        self.files[path] = f
        if f.kind != "twopart":
            self.arrived[path] = time.time()
        return path

    def acks(self) -> dict[str, list]:
        """Records the endpoint acknowledged, by source path."""
        out: dict[str, list] = {}
        for r in self.stub.records:
            path = unquote(urlparse(r.key[len(self.host) + 1 :]).path)
            out.setdefault(path, []).append(r)
        return out

    def verify_records(self) -> None:
        """Every acknowledged record against the generator's copy of its
        file: key, payload digest, gzip framing, one delivery each, and
        never a truncated or non-.xml file."""
        out: dict[str, list] = {}
        for r in self.stub.records:
            if not r.key.startswith(self.host + ":"):
                self.problems.append(f"key without the host prefix: {r.key[:200]}")
                continue
            path = unquote(urlparse(r.key[len(self.host) + 1 :]).path)
            f = self.files.get(path)
            if f is None or not r.key.endswith(path):
                self.problems.append(f"record for an unknown file: {r.key[:200]}")
                continue
            if not f.deliverable:
                self.problems.append(f"delivered a {f.kind} file: {path}")
            if r.md5 != f.md5:
                self.problems.append(f"payload differs from the newline-stripped file: {path}")
            if r.gzipped != (len(f.payload) > GZIP_THRESHOLD):
                self.problems.append(f"gzip framing wrong for {len(f.payload)} B payload: {path}")
            out.setdefault(path, []).append(r)
        for path, rs in out.items():
            if len(rs) > 1:
                self.problems.append(f"delivered {len(rs)} times: {path}")
        if self.stub.bad_requests:
            self.problems.append(f"{self.stub.bad_requests} requests to the endpoint were not PutRecords")

    async def wait_settled(self, ckpt: Checkpoint, paths: list[str], deadline: float) -> None:
        xml = [p for p in paths if p.endswith(".xml")]
        while time.time() < deadline and not ckpt.settled(xml):
            await asyncio.sleep(0.02)

    async def bringup(self, sut: Sut, k: int, workers: int, interval_ms: int, n_files: int, records: tuple[int, int]) -> float:
        """One daemon start: config loaded, query started, ``n_files``
        whole files delivered, query stopped. Returns its wall time."""
        watched, ckpt = self.dirs(f"bringup{k}")
        paths = [self.land(watched, f) for f in corpus.make_round(self.args.seed, 900 + k, {"whole": n_files}, records)]
        t0 = time.time()
        await sut.call("daemon_start", config=self.config(watched, workers, interval_ms), checkpoint=ckpt)
        while time.time() < t0 + DEADLINE_S and not all(p in self.acks() for p in paths):
            await asyncio.sleep(0.01)
        t1 = time.time()
        await sut.call("daemon_stop")
        if not all(p in self.acks() for p in paths):
            raise BenchError(f"bring-up {k}: the daemon delivered no warm-up file in {DEADLINE_S} s")
        return t1 - t0

    def ingest_layers(self, progress: list[dict], ckpt: Checkpoint, exec_stats: dict) -> None:
        """Per-trigger layer split from the daemon's own progress reports,
        and how long each file sat on disk before the trigger that listed
        it began."""
        data = [p for p in progress if p.get("numInputRows", 0) > 0]
        for p in data:
            start = progress_start(p)
            self.span("ingest.trigger", start, start + p["durationMs"]["triggerExecution"] / 1000, batch=p["batchId"])
        self.layer["ingest.triggers"] = len(data)
        for key, name in (("latestOffset", "latest_offset"), ("getBatch", "get_batch"),
                          ("queryPlanning", "query_planning"), ("walCommit", "wal_commit"),
                          ("commitOffsets", "commit_offsets"), ("addBatch", "add_batch")):
            self.layer[f"ingest.{name}_ms"] = median([p["durationMs"].get(key, 0) for p in data])
        starts = {p["batchId"]: progress_start(p) for p in progress}
        waits = [starts[batch] - self.arrived[path] for path, batch in ckpt.listed().items()
                 if self.files[path].kind in ("whole", "tiny") and batch in starts]
        self.layer["ingest.trigger_wait_s"] = median(waits)
        self.exec_layers(exec_stats)

    def sink_layers(self, mark: tuple[int, int, int]) -> None:
        records, calls, conns = mark
        self.layer["sink.put_calls"] = len(self.stub.service_ms) - calls
        self.layer["sink.connections"] = self.stub.connections - conns
        self.layer["sink.records"] = len(self.stub.records) - records
        self.layer["sink.put_service_ms"] = median(self.stub.service_ms[calls:])

    def exec_layers(self, s: dict) -> None:
        """The daemon's Spark jobs over the timed phase."""
        self.layer.update({
            "exec.jobs": s["jobs"], "exec.stages": s["stages"], "exec.tasks": s["tasks"],
            "exec.executor_run_ms": s["run_ms"], "exec.executor_cpu_ms": s["cpu_ms"],
            "exec.input_mb": s["input_b"] / 1e6, "exec.shuffle_read_mb": s["shuffle_read_b"] / 1e6,
            "exec.shuffle_write_mb": s["shuffle_write_b"] / 1e6, "exec.spill_mb": s["spill_b"] / 1e6,
        })

    # ---- workloads

    async def ingest_backlog(self, sut: Sut) -> dict:
        # a bring-up is one full trigger of workload-sized files, so that the
        # per-byte path is compiled before the first timed burst
        setup = [await self.bringup(sut, k, 16, BACKLOG_INTERVAL_MS, 16, BACKLOG_RECORDS) for k in range(BRINGUPS)]
        watched, ckpt_dir = self.dirs("backlog")
        ckpt = Checkpoint(ckpt_dir)
        mark = self.stub.mark()
        await sut.call("daemon_start", config=self.config(watched, 16, BACKLOG_INTERVAL_MS), checkpoint=ckpt_dir)
        rates, p50s, p95s, samples, attempted, failed = [], [], [], 0, 0, 0
        for rnd in range(rounds(self.args.seconds, BACKLOG_ROUND_S)):
            files = corpus.make_round(self.args.seed, rnd, BACKLOG_MIX, BACKLOG_RECORDS)
            # stage every file first, so the burst lands within milliseconds
            staged = [corpus.stage(watched, f) for f in files]
            t0 = time.time()
            paths = [self.land(watched, f, tmp) for f, tmp in zip(files, staged)]
            await self.wait_settled(ckpt, paths, t0 + DEADLINE_S)
            acks = self.acks()
            want = [p for p in paths if self.files[p].deliverable]
            got = [p for p in want if p in acks]
            attempted, failed = attempted + len(want), failed + len(want) - len(got)
            t_acks = [acks[p][0].t_recv for p in got]
            if got:
                lat = [t - t0 for t in t_acks]
                rates.append(len(got) / max(lat))
                p50s.append(pct(lat, 0.50))
                p95s.append(pct(lat, 0.95))
                samples += len(lat)
                log(f"  round {rnd}: {len(got)} files, {sum(self.files[p].source_bytes for p in got) / 1e6:.1f} MB "
                    f"in {max(t_acks) - t0:.2f} s")
            self.span("backlog.round", t0, max(t_acks, default=t0), round=rnd)
        stopped = await sut.call("daemon_stop")
        if self.trace:
            self.ingest_layers(stopped["progress"], ckpt, stopped["exec"])
            self.sink_layers(mark)
        # medians over rounds: one slow round moves them less than it moves
        # percentiles of the pooled samples
        return {"setup": setup, "ops_per_s": median(rates), "lat": median(p50s), "tail": median(p95s),
                "samples": samples, "attempted": attempted, "failed": failed}

    async def ingest_trickle(self, sut: Sut) -> dict:
        workers = 0  # unbounded: a Poisson second can bring more than 16 files
        setup = [await self.bringup(sut, k, workers, 1000, 4, TRICKLE_RECORDS) for k in range(BRINGUPS)]
        watched, ckpt_dir = self.dirs("trickle")
        ckpt = Checkpoint(ckpt_dir)
        mark = self.stub.mark()
        await sut.call("daemon_start", config=self.config(watched, workers, 1000), checkpoint=ckpt_dir)
        n = rounds(self.args.seconds, sum(TRICKLE_MIX.values()) / TRICKLE_RATE)
        files = [f for r in range(n) for f in corpus.make_round(self.args.seed, r, TRICKLE_MIX, TRICKLE_RECORDS)]
        # A Poisson process with a given number of arrivals in a window puts
        # them at uniform random times in it: the rate holds exactly, and
        # no arrival period can lock onto the 1 s trigger clock.
        start, window = time.time() + 0.5, len(files) / TRICKLE_RATE
        arrivals = random.Random(f"{self.args.seed}:arrivals")
        due = sorted(start + window * arrivals.random() for _ in files)
        late, pending, paths, t_first = [], [], [], 0.0
        for f, t_due in zip(files, due):
            while time.time() < t_due:
                await asyncio.sleep(min(0.05, t_due - time.time()))
                self.complete_tails(ckpt, pending)
            path = self.land(watched, f)
            late.append(time.time() - t_due)
            t_first = t_first or time.time()
            paths.append(path)
            if f.kind == "twopart":
                pending.append(path)
        deadline = time.time() + SETTLE_S
        while time.time() < deadline and (pending or not ckpt.settled([p for p in paths if p.endswith(".xml")])):
            self.complete_tails(ckpt, pending)
            await asyncio.sleep(0.02)
        stopped = await sut.call("daemon_stop")
        acks = self.acks()
        want = [p for p in paths if self.files[p].deliverable]
        got = [p for p in want if p in acks and acks[p][0].t_recv <= self.arrived.get(p, 0) + DEADLINE_S]
        whole = [p for p in got if self.files[p].kind in ("whole", "tiny")]
        lat = [acks[p][0].t_recv - self.arrived[p] for p in whole]
        span_s = max(acks[p][0].t_recv for p in got) - t_first if got else 1.0
        log(f"generator lateness p95 {pct(late, 0.95) * 1000:.2f} ms over {len(late)} arrivals")
        if self.trace:
            self.ingest_layers(stopped["progress"], ckpt, stopped["exec"])
            self.sink_layers(mark)
        return {"setup": setup, "ops_per_s": len(got) / span_s, "lat": pct(lat, 0.50), "tail": pct(lat, 0.95),
                "samples": len(lat), "attempted": len(want), "failed": len(want) - len(got)}

    def complete_tails(self, ckpt: Checkpoint, pending: list[str]) -> None:
        """grow-after-list: append the tail of a two-part file once the
        batch that listed its partial first part has committed."""
        if not pending:
            return
        listed, done = ckpt.listed(), ckpt.committed()
        for path in [p for p in pending if p in listed and listed[p] in done]:
            pending.remove(path)
            corpus.complete_tail(path, self.files[path])
            self.arrived[path] = time.time()

    # ---- trace-only: the layers a workload does not reach, on fixed small inputs

    async def probe(self, sut: Sut) -> None:
        watched = os.path.join(self.work, "probe")
        os.makedirs(watched)
        for f in corpus.make_round(self.args.seed, 990, PROBE_MIX, BACKLOG_RECORDS):
            self.land(watched, f)
        p = await sut.call("probe", directory=watched)
        self.layer["sources.read_gate_s"] = p["read_gate_s"]
        self.layer["sources.files_withheld"] = p["withheld"]
        self.layer["codec.gzip_s"] = p["gzip_s"]
        self.layer["codec.wire_mb"] = p["wire_bytes"] / 1e6

    async def queries(self, sut: Sut) -> None:
        """Cold then warm pass of QUERIES on a fresh seeded table set, then
        each query's rows against its DuckDB oracle on the same files."""
        d = os.path.join(self.work, "tables")
        fixtures.write_tables(fixtures.make_tables(self.args.seed, TABLES_SF), d)
        cold = await sut.call("query_pass", names=QUERIES, sf_dir=d, tag="cold")
        warm = await sut.call("query_pass", names=QUERIES, sf_dir=d, tag="warm")
        for c in cold["calls"] + warm["calls"]:
            if c["error"]:
                self.problems.append(f"{c['name']} raised {c['error']}")
        self.layer["registry.build_s"] = sum(c["build_s"] for c in cold["calls"])
        self.layer["registry.build_jobs"] = sum(c["build_jobs"] for c in cold["calls"])
        self.layer["registry.rebuild_s"] = sum(c["build_s"] for c in warm["calls"])
        self.layer["catalyst.optimization_ms"] = cold["planning"]["optimization"]
        self.layer["catalyst.planning_ms"] = cold["planning"]["planning"]
        t0 = time.time()
        bad = (await sut.call("check", names=QUERIES, sf_dir=d))["problems"]
        self.span("check.oracle", t0, time.time())
        self.problems += [f"{n}: {p}" for n, p in bad.items()]

    # ---- one run

    async def run(self) -> dict:
        port = await self.stub.start()
        sut = Sut(self.work, port, self.trace)
        try:
            ph = [time.time()]
            up = await sut.start(ACCESS_KEY, ACCESS_SECRET)
            self.layer["registry.load_s"] = up["registry_load_s"]
            ph.append(time.time())
            res = await getattr(self, self.args.workload)(sut)
            sut.sampling = False
            ph.append(time.time())
            self.verify_records()
            if self.trace:
                await self.probe(sut)
                await self.queries(sut)
            ph.append(time.time())
        finally:
            sut_spans = await sut.close()
            await self.stub.close()
        log(f"phases: program up {up['up_s']:.1f} s (session {up['session_s']:.1f} s, "
            f"registry {up['registry_load_s']:.2f} s), workload {ph[2] - ph[1]:.1f} s, checks {ph[3] - ph[2]:.1f} s, "
            f"shutdown {time.time() - ph[3]:.1f} s; set-up {', '.join(f'{x:.2f}' for x in res['setup'])} s")
        self.spans += sut_spans
        e2e = {
            "setup_s": (median(res["setup"]), "s"),
            "peak_pss_mb": (sut.peak_pss_kb / 1024.0, "MB"),
            "ops_per_s": (res["ops_per_s"], "1/s"),
            "latency_s": (res["lat"], "s"),
            "latency_tail_s": (res["tail"], "s"),
        }
        log(f"{self.args.workload} seed={self.args.seed}: " + ", ".join(f"{k}={v:.4f} {u}" for k, (v, u) in e2e.items())
            + f", latency samples={res['samples']}, attempted={res['attempted']}, failed={res['failed']}")
        for p in self.problems[:10]:
            log("CHECK FAILED:", p)
        if self.trace:
            metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in sorted(self.layer.items())}
            missing = set(LAYER_UNITS) - set(self.layer)
            if missing:
                raise BenchError(f"per-layer metrics not measured: {sorted(missing)}")
            self.write_trace(e2e)
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        return {"correct": not self.problems, "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}

    def write_trace(self, e2e: dict) -> None:
        out = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.args.workload}-seed{self.args.seed}.json")
        with open(path, "w") as f:
            json.dump({"end_to_end_traced": {k: v for k, (v, _) in e2e.items()}, "layers": self.layer, "spans": self.spans}, f)
        log(f"trace written to {path}")


def _layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest_backlog", "ingest_trickle"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "oraaud_kafka_spark")):
        log("run from the root of a checkout: oraaud_kafka_spark/ is not here")
        return 2
    global LAYER_UNITS
    LAYER_UNITS = _layer_units()
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(work)
    try:
        result = asyncio.run(Bench(args, work).run())
    except BenchError as e:
        log(f"benchmark failed: {e}")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


LAYER_UNITS: dict[str, str] = {}

if __name__ == "__main__":
    sys.exit(main())
