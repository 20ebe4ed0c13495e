#!/usr/bin/env python3
"""Benchmark of prom_spark's knowledge-graph construction.

Run from the repository root:

    python3 perfbench/run.py --workload build_zipf --seed 1 --seconds 1 --trace 0

One driver process runs Spark on ``local[nproc]`` as a closed loop with a
single client: each iteration starts when the previous one has finished,
and iterations repeat until ``--seconds`` have passed (at least one runs).
Set-up starts the session, writes the seeded inputs to parquet and runs
one untimed warm-up operation on a small input, so that the timed
iterations measure the corpus work of a warm driver.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` traces one
iteration and reports per-layer metrics, including the layers of
the other workload's path, run once on this workload's input. Every
operation's output is checked. The last line of stdout is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the
line before it describes the run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import re
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DIGEST_FILE = os.path.join(WORK_ROOT, "digests.json")

TURNS_PER_CONV = 10
# Sized so that one untraced run (session, inputs, warm-up, one timed
# operation and its resume) takes about a minute on a 4-core box, with the
# corpus stages a large share of the timed build; README.md gives the
# measured costs and shares.
# A short resume (stream restart) repeats so that its median is steady.
WORKLOADS = {
    "build_zipf": {
        "kind": "batch", "convs": 1600, "entities": 256, "files": 8,
        "resumes": 1,
    },
    "stream_backfill": {
        "kind": "stream", "convs": 1200, "entities": 256, "files": 16,
        "resumes": 3,
    },
}
TRIPLE_COLS = ["subj", "pred", "obj", "conv_id", "turn_idx"]
PLANTED = r"^turn \d+: the (.+?) (uses|feeds|precedes|controls) the (.+?) in this step\."
KG_STAGES = (
    "ingest", "grams", "fuzzy_scores", "candidates", "entity_map", "triples_raw",
)

E2E_UNITS = {
    "run_s": "s",
    "triples_per_s": "1/s",
    "resume_s": "s",
    "batch_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ckpt_bytes": "bytes",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "datagen.write_s": "s",
    **{
        f"kg.{stage}.{name}": unit
        for stage in KG_STAGES
        for name, unit in (
            ("wall_s", "s"), ("rows", "count"), ("bytes", "bytes"),
            ("files", "count"), ("tasks", "count"), ("task_run_s", "s"),
            ("task_cpu_s", "s"), ("gc_s", "s"), ("shuffle_write_bytes", "bytes"),
            ("shuffle_read_bytes", "bytes"), ("spill_bytes", "bytes"),
        )
        # entity_map's few small tasks collect no garbage: always 0
        if (stage, name) != ("entity_map", "gc_s")
    },
    "kg.driver_s": "s",
    "sinks.footer_s": "s",
    "sinks.read_s": "s",
    "mentions.inline_plan": "count",
    "stream.batches": "count",
    "stream.batch_add_s": "s",
    "stream.source_reads_per_row": "ratio",
    "stream.task_run_s": "s",
    "stream.task_cpu_s": "s",
    "stream.gc_s": "s",
    "stream.shuffle_write_bytes": "bytes",
    "stream.output_files": "count",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, parquet files) of every regular file under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files


def code_revision() -> str:
    """Content hash of the program and the benchmark (the checkout the
    benchmark runs in need not be a git repository)."""
    h = hashlib.sha256()
    for top in ("prom_spark", "perfbench"):
        for root, dirs, names in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for n in sorted(names):
                if n.endswith((".py", ".md")):
                    p = os.path.join(root, n)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a live process."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Bench:
    """Set-up, operations, correctness checks and bookkeeping shared by
    both workloads; subclasses pick ``main_path`` and ``other_layers``."""

    def __init__(self, args) -> None:
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.n_turns = self.wl["convs"] * TURNS_PER_CONV
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(
            WORK_ROOT, f"{args.workload}-s{args.seed}-{os.getpid()}"
        )
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.ref_digest = None
        self.e2e: dict[str, list[float]] = {}
        self.layer: dict[str, float] = {}
        self.info: dict = {}

    # ---- set-up -------------------------------------------------------
    def setup(self) -> None:
        """Start the session, write the seeded inputs, then warm up: one
        untimed operation of the workload's own path and its resume on a
        small input, so that the timed ones run in a warm driver (JIT,
        Spark's generated code, Python workers) and time the corpus work
        instead."""
        import probes
        from prom_spark.session import get_spark

        t0 = time.perf_counter()
        # every file Spark, its JVMs and Python write stays in the run's
        # directory: temp files, Spark local dirs (the environment variable
        # would override the setting) and no JVM perf data under /tmp
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.nproc}]",
            extra_conf={
                "spark.driver.memory": "1g",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                ),
                # keep every job and stage of the run for the task probe
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.listener = probes.ProgressListener()
        self.spark.streams.addListener(self.listener)
        session_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        self.write_inputs()
        write_s = time.perf_counter() - t0
        self.transcripts = self.spark.read.parquet(self.input_dir)
        self.dictionary = self.spark.read.parquet(self.dict_dir)

        t0 = time.perf_counter()
        d = os.path.join(self.work, "warmup")
        try:
            self.warm_up(d)
        except Exception:  # reported like any failed operation
            traceback.print_exc(file=sys.stderr)
            self.attempted += 1
            self.fail(1, "warm-up raised")
        shutil.rmtree(d, ignore_errors=True)
        warmup_s = time.perf_counter() - t0

        self.setup_s = session_s + write_s + warmup_s
        self.layer["session.start_s"] = session_s
        self.layer["datagen.write_s"] = write_s
        self.info.update(
            session_s=session_s,
            input_write_s=write_s,
            warmup_s=warmup_s,
            input_files=dir_stats(self.input_dir)[1],
        )

    def write_inputs(self) -> None:
        from prom_spark.datagen import entity_dictionary, synth_transcripts

        inputs = os.path.join(self.work, "input")
        self.input_dir = os.path.join(inputs, "transcripts")
        self.dict_dir = os.path.join(inputs, "dictionary")
        # the dictionary first: synth_transcripts collects the same plan,
        # which then runs warm
        entity_dictionary(self.spark, self.wl["entities"]).write.parquet(
            self.dict_dir
        )
        tr = synth_transcripts(
            self.spark,
            n_convs=self.wl["convs"],
            turns_per_conv=TURNS_PER_CONV,
            n_entities=self.wl["entities"],
            seed=str(self.args.seed),
        )
        # whole conversations per file, so a micro-batch never splits one
        tr.repartition(self.wl["files"], "conv_id").write.parquet(self.input_dir)
        # the warm-up reads one of the input's files, copied on its own
        self.warmup_dir = os.path.join(inputs, "warmup")
        os.makedirs(self.warmup_dir)
        first = min(n for n in os.listdir(self.input_dir) if n.endswith(".parquet"))
        shutil.copy(os.path.join(self.input_dir, first), self.warmup_dir)

    # ---- operations ---------------------------------------------------
    def op(self, what: str, fn, n_ops: int = 1):
        """Run one operation; a raised call counts as failed."""
        self.attempted += n_ops
        try:
            return fn()
        except Exception:  # a failed operation is reported, not fatal
            traceback.print_exc(file=sys.stderr)
            self.fail(n_ops, f"{what} raised")
            return None

    def fail(self, n_ops: int, why: str) -> None:
        self.failed += n_ops
        self.errors.append(why)
        log(f"FAILED ({n_ops} op): {why}")

    @contextlib.contextmanager
    def traced(self, tracer, group: str, span: str):
        import probes

        if tracer is None:
            yield
            return
        with probes.instrument(tracer, self.sc, group), tracer.span(span):
            yield

    def build(self, base: str, resume: bool, tracer=None, group: str = "",
              transcripts=None):
        """One build_kg call (over the workload's input unless
        ``transcripts`` is given): (result, wall seconds)."""
        from prom_spark.pipeline.kg import build_kg

        t0 = time.perf_counter()
        with self.traced(tracer, group, "kg.build_kg"):
            res = build_kg(
                self.spark,
                self.transcripts if transcripts is None else transcripts,
                self.dictionary, base, resume=resume,
            )
        return res, time.perf_counter() - t0

    def drain(self, src: str, out: str, ckpt: str, tracer=None):
        """One run_streaming_kg(availableNow) call over the files in
        ``src``: (its micro-batches that read input rows, wall seconds)."""
        from prom_spark.streaming.pipeline import run_streaming_kg

        seen = len(self.listener.finished)
        t0 = time.perf_counter()
        with self.traced(tracer, "stream", "stream.run_streaming_kg"):
            run_streaming_kg(self.spark, src, self.dictionary, out, ckpt)
        run_s = time.perf_counter() - t0
        return self.listener.wait_finished(seen), run_s

    # ---- correctness --------------------------------------------------
    def triple_rows(self, df) -> list[tuple]:
        """The triples as Python tuples (the checks run outside Spark)."""
        return [tuple(r) for r in df.select(*TRIPLE_COLS).collect()]

    @staticmethod
    def digest(rows) -> tuple[int, str]:
        """Order-independent multiset digest: (rows, sha256 of the sorted
        rows)."""
        rows = sorted(map(repr, rows))
        return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()

    def check_first(self, rows: list[tuple], n_ops: int, entity_map=None) -> None:
        """Checks on the first iteration's output: every planted
        ``<subj> <verb> <obj>`` fact, mapped through the entity map, is
        among the triples, and the triple digest equals what earlier runs
        of this seed recorded. Later iterations must match the digest.

        The entity map is recomputed here from the dictionary (entities
        sharing an alias merge; the smallest id names the cluster) and
        must equal the run's own ``entity_map`` where it has one."""
        self.ref_digest = self.digest(rows)
        parent: dict[str, str] = {}

        def root(e: str) -> str:
            while parent.setdefault(e, e) != e:
                e = parent[e]
            return e

        first_owner: dict[str, str] = {}
        entity_aliases = self.dictionary.select("alias", "entity_id").collect()
        self.info["aliases"] = len(entity_aliases)
        for alias, eid in entity_aliases:
            a, b = root(first_owner.setdefault(alias, eid)), root(eid)
            parent[max(a, b)] = min(a, b)
        canonical = {e: root(e) for e in parent}
        if entity_map is not None and canonical != dict(
            entity_map.select("entity_id", "canonical_id").collect()
        ):
            self.fail(n_ops, "entity_map differs from the dictionary's clusters")
        alias_canon = {alias: canonical[eid] for alias, eid in entity_aliases}

        planted = re.compile(PLANTED)
        have = set(rows)
        missing = 0
        for conv, turn, text in self.transcripts.select(
            "conv_id", "turn_idx", "text"
        ).collect():
            m = planted.match(text)
            if not m or (
                alias_canon.get(m.group(1)), m.group(2),
                alias_canon.get(m.group(3)), conv, turn,
            ) not in have:
                missing += 1
        self.info["planted_missing"] = missing
        if missing:
            self.fail(n_ops, f"{missing} of {self.n_turns} planted facts missing")

        key = f"{self.args.workload}:{self.args.seed}:{json.dumps(self.wl, sort_keys=True)}"
        try:
            with open(DIGEST_FILE) as f:
                known = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            known = {}
        earlier = tuple(known.setdefault(key, list(self.ref_digest)))
        if earlier != self.ref_digest:
            self.fail(n_ops, f"digest {self.ref_digest} != earlier run's {earlier}")
        with open(DIGEST_FILE, "w") as f:
            json.dump(known, f, indent=1, sort_keys=True)

    def record(self, **values: float) -> None:
        for k, v in values.items():
            self.e2e.setdefault(k, []).append(v)

    # ---- per-layer ----------------------------------------------------
    def kg_layers(self, tracer, base: str) -> dict:
        """Per-stage metrics of the traced build into ``base``, whose
        Spark jobs ran in the job groups ``build:<stage>``."""
        import probes
        from prom_spark.sinks import StageStore

        store = StageStore(self.spark, base)
        root = next(s for s in tracer.spans if s["name"] == "kg.build_kg")
        out = {
            "kg.driver_s": tracer.self_time(root["id"]),
            "mentions.inline_plan": tracer.count("mentions.inline_plan"),
        }
        for stage in KG_STAGES:
            nbytes, nfiles = dir_stats(os.path.join(base, stage, "data"))
            tm = probes.task_metrics(
                self.sc, probes.stage_ids_for_group(self.sc, f"build:{stage}")
            )
            vals = {
                "wall_s": tracer.total("sinks.write", stage=stage),
                "rows": store.metrics(stage)["rows"],
                "bytes": nbytes,
                "files": nfiles,
                **tm,
            }
            out.update(
                {f"kg.{stage}.{k}": v for k, v in vals.items()
                 if f"kg.{stage}.{k}" in LAYER_UNITS}
            )
        out["sinks.footer_s"] = tracer.total("sinks.footer")
        return out

    def stream_layers(self, batches: list[dict], tm: dict, out: str) -> dict:
        return {
            "stream.batches": len(batches),
            "stream.batch_add_s": statistics.median(
                b["ms"]["addBatch"] / 1000 for b in batches
            ),
            "stream.source_reads_per_row": sum(b["rows"] for b in batches)
            / self.n_turns,
            "stream.task_run_s": tm["task_run_s"],
            "stream.task_cpu_s": tm["task_cpu_s"],
            "stream.gc_s": tm["gc_s"],
            "stream.shuffle_write_bytes": tm["shuffle_write_bytes"],
            "stream.output_files": dir_stats(out)[1],
        }

    def build_and_resume(self, base: str, tracer=None, main: bool = True):
        """One build into ``base``, then a resume with the triple stage
        deleted. Traced, the build's layers are recorded; on the
        workload's own path (``main``) the resume then runs untraced,
        traced and untraced again, for the tracing overhead. Returns the
        build's (wall seconds, triples) or None."""
        done = self.op(f"build {base}", lambda: self.build(base, False, tracer, "build"))
        if done is None:
            return None
        res, run_s = done
        rows = self.triple_rows(res.triples)
        if main and self.ref_digest is None:
            self.check_first(rows, 1, res.entity_canonical)
        elif main and self.digest(rows) != self.ref_digest:
            self.fail(1, f"build {base}: triple digest differs")
        metrics = res.store.metrics
        n_triples = metrics("triples")["rows"]
        if tracer is not None:
            self.layer.update(self.kg_layers(tracer, base))
        else:
            self.record(
                batch_s=metrics("triples_raw")["duration_sec"],
                ckpt_bytes=dir_stats(base)[0],
            )
        walls = []
        for t in self.resume_tracers(tracer, main):
            for stage in ("triples_raw", "triples"):
                shutil.rmtree(os.path.join(base, stage))
            since = len(t.spans) if t is not None else 0
            done = self.op(
                f"resume {base}", lambda: self.build(base, True, t, "resume")
            )
            if done is None:
                return None
            res, resume_s = done
            walls.append((t is not None, resume_s))
            if main and self.digest(self.triple_rows(res.triples)) != self.ref_digest:
                self.fail(1, f"resume {base}: triple digest differs")
            if t is not None:
                self.layer["sinks.read_s"] = t.total("sinks.read", since)
        self.record_resume(walls, tracer)
        return run_s, n_triples

    def drain_and_restart(self, d: str, tracer=None, main: bool = True):
        """One drain of the input files into ``d``. On the workload's own
        path (``main``) the finished query is then restarted from its
        checkpoint and must append nothing, as no file is new; traced, it
        restarts untraced, traced and untraced again, for the tracing
        overhead. Returns the drain's (wall seconds, triples) or None."""
        import probes

        out, ckpt = os.path.join(d, "out"), os.path.join(d, "ckpt")
        before = probes.max_stage_id(self.sc) if tracer is not None else None
        try:
            batches, run_s = self.drain(self.input_dir, out, ckpt, tracer)
        except Exception:  # a drain's batches are unknown: one failed op
            traceback.print_exc(file=sys.stderr)
            self.attempted += 1
            self.fail(1, f"drain {d} raised")
            return None
        if tracer is not None:
            # the drain's own Spark stages, before any check runs a job
            drain_stages = range(before + 1, probes.max_stage_id(self.sc) + 1)
            tm = probes.task_metrics(self.sc, drain_stages)
        self.attempted += len(batches)
        if not batches:
            self.attempted += 1
            self.fail(1, f"drain {d}: no micro-batch read input")
            return None
        triples = self.triple_rows(self.spark.read.parquet(out))
        if main and self.ref_digest is None:
            self.check_first(triples, len(batches))
        elif main and self.digest(triples) != self.ref_digest:
            self.fail(len(batches), f"drain {d}: triple digest differs")
        if tracer is not None:
            self.layer.update(self.stream_layers(batches, tm, out))
        else:
            self.record(ckpt_bytes=dir_stats(out)[0])
            self.record(batch_s=statistics.median(
                b["ms"]["triggerExecution"] / 1000 for b in batches
            ))
        if not main:
            return run_s, len(triples)

        walls = []
        for t in self.resume_tracers(tracer, main):
            done = self.op(
                f"restart {d}", lambda: self.drain(self.input_dir, out, ckpt, t)
            )
            if done is None:
                return None
            again, resume_s = done
            walls.append((t is not None, resume_s))
            if again or self.spark.read.parquet(out).count() != len(triples):
                self.fail(1, f"restart {d}: appended rows with no new input")
        self.record_resume(walls, tracer)
        return run_s, len(triples)

    def resume_tracers(self, tracer, main: bool) -> list:
        """Untraced: the workload's number of resumes. Traced: untraced,
        traced and untraced on the workload's own path, else only the
        traced one."""
        if tracer is None:
            return [None] * self.wl["resumes"]
        return [None, tracer, None] if main else [tracer]

    def record_resume(self, walls: list[tuple[bool, float]], tracer) -> None:
        """Record the resume walls; traced, the traced resume minus the
        mean of the untraced ones around it is the tracing overhead."""
        if tracer is None:
            for _, wall in walls:
                self.record(resume_s=wall)
            return
        untraced = [w for is_traced, w in walls if not is_traced]
        if untraced:
            traced = next(w for is_traced, w in walls if is_traced)
            self.layer["trace.overhead_s"] = traced - statistics.mean(untraced)

    # ---- runs ---------------------------------------------------------
    def run(self) -> dict:
        """Set up, then either the closed loop of untraced iterations for
        ``--seconds`` (at least one) or one traced run."""
        import probes

        self.setup()
        if self.args.trace:
            tracers = [probes.Tracer(), probes.Tracer()]
            self.iteration(0, tracers[0])
            self.other_layers(tracers[1])
            self.info["iterations"] = 1
            self.info["spans"] = [
                [s["name"], s.get("stage"), s["parent"],
                 round(s["start"], 4), round(s["end"], 4)]
                for t in tracers for s in t.spans
            ]
        else:
            t0 = time.perf_counter()
            i = 0
            while i == 0 or time.perf_counter() - t0 < self.args.seconds:
                self.iteration(i)
                i += 1
            self.info["iterations"] = i
            self.record(
                setup_s=self.setup_s,
                peak_rss_mb=vm_hwm_mb(os.getpid())
                + vm_hwm_mb(self.spark._jvm.java.lang.ProcessHandle.current().pid()),
            )
        return self.result()

    def iteration(self, i: int, tracer=None) -> None:
        """One build or drain of this workload plus its resume; untraced,
        the end-to-end metrics are recorded."""
        d = os.path.join(self.work, f"it{i}")
        done = self.main_path(d, tracer)
        shutil.rmtree(d, ignore_errors=True)
        if done is None:
            return
        run_s, n_triples = done
        if tracer is None:
            self.record(run_s=run_s, triples_per_s=n_triples / run_s)

    def result(self) -> dict:
        if self.args.trace:
            units = LAYER_UNITS
            values = self.layer
        else:
            units = E2E_UNITS
            values = {k: statistics.median(v) for k, v in self.e2e.items()}
        absent = sorted(set(units) - set(values))
        if absent:
            self.fail(0, f"metrics not measured: {absent}")
        self.info["raw"] = self.e2e
        return {
            "correct": self.failed == 0 and not absent and self.attempted > 0,
            "attempted": max(self.attempted, 1),
            "failed": self.failed if self.attempted else 1,
            "metrics": {
                k: {"value": values[k], "unit": u}
                for k, u in units.items()
                if k in values
            },
        }


class BatchBench(Bench):
    """build_kg into a fresh checkpoint directory, then build_kg(resume=True)
    with the triple stage deleted."""

    def warm_up(self, d: str) -> None:
        transcripts = self.spark.read.parquet(self.warmup_dir)
        self.build(d, False, transcripts=transcripts)
        for stage in ("triples_raw", "triples"):
            shutil.rmtree(os.path.join(d, stage))
        self.build(d, True, transcripts=transcripts)

    def main_path(self, d: str, tracer):
        return self.build_and_resume(d, tracer)

    def other_layers(self, tracer) -> None:
        """The streaming path, traced once over this workload's input."""
        d = os.path.join(self.work, "other")
        self.drain_and_restart(d, tracer, main=False)
        shutil.rmtree(d, ignore_errors=True)


class StreamBench(Bench):
    """run_streaming_kg(availableNow) drains the input files into a fresh
    output table, then the finished query is restarted."""

    def warm_up(self, d: str) -> None:
        for _ in range(2):  # a drain, then a restart
            self.drain(self.warmup_dir, os.path.join(d, "out"), os.path.join(d, "ckpt"))

    def main_path(self, d: str, tracer):
        return self.drain_and_restart(d, tracer)

    def other_layers(self, tracer) -> None:
        """The batch path, traced once over this workload's input."""
        d = os.path.join(self.work, "other")
        self.build_and_resume(d, tracer, main=False)
        shutil.rmtree(d, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import prom_spark.pipeline.kg  # noqa: F401
        import pyspark
    except ImportError as e:
        log(f"cannot import the program from {ROOT}: {e}")
        return 2

    cls = BatchBench if WORKLOADS[args.workload]["kind"] == "batch" else StreamBench
    bench = cls(args)
    os.makedirs(bench.work)
    try:
        out = bench.run()
        bench.info.update(
            workload=args.workload,
            seed=args.seed,
            trace=args.trace,
            code_revision=code_revision(),
            nproc=bench.nproc,
            pyspark=pyspark.__version__,
            java=bench.sc._jvm.java.lang.System.getProperty("java.version"),
            turns=bench.n_turns,
            entities=bench.wl["entities"],
            errors=bench.errors,
        )
    finally:
        if hasattr(bench, "spark"):
            stop_spark(bench.spark)
        shutil.rmtree(bench.work, ignore_errors=True)
    print(json.dumps({"perfbench": bench.info}, default=str))
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
