"""Benchmark of the knowledge-graph pipeline, end to end and layer by layer.

    python3 kgbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (README.md says why each exists):

  kg_microbatch  the fused pipeline, `build_stages(...)["triples"]`
                 collected to the driver, over a sequence of small batches,
                 each a fresh DAG against unchanged dimension tables. The
                 first batch runs in the fresh session; more batches run
                 until S seconds after it ended (at least one). A traced
                 run then drops the last batch's `candidates` and
                 `triples` and rebuilds them from its vote spool and canon
                 map (recovery).
  kg_resumable   `run_pipeline`, the path `scripts/run_job.py` ships. A pass
                 is a cold run into an empty checkpoint store, recovery
                 after the `candidates` and `triples` stage directories are
                 deleted, and a full resume in which every stage is valid.
                 Passes run until S seconds after set-up (at least one).

Inputs are made from --seed (inputs.py); one Spark session runs on
local[<cores>] with an explicit driver heap. Every pass is one operation
together with its checks (checks.py); the DuckDB oracle (oracle.py) runs
in its own process after the session has stopped, so neither its memory
nor its CPU overlaps a timed pass. The last line of stdout is
one JSON object {"correct", "attempted", "failed", "metrics"}: with
--trace 0 the end-to-end metrics (CPU seconds, see `end_to_end`), with
--trace 1 Spark's event log is
on, every call into a package module runs inside a span, and the metrics
are the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".kgbench")
N_ORDERS = 1500  # turns per batch: the shape of the package's sf0.001 corpus
CORES = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "2g"
STAGES = ("sentences", "votes", "canon_map", "linked_votes", "candidates", "triples")
RECOVERED = ("candidates", "triples")
WARM_BATCHES = 1

sys.path.insert(0, ROOT)
from kgbench import checks, oracle  # noqa: E402
from kgbench.inputs import make_inputs  # noqa: E402
from kgbench.trace import EventLog, Tracer, pass_counters  # noqa: E402


class Run:
    """One benchmark process: inputs, session, passes, checks, metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.fused = workload == "kg_microbatch"
        self.dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.passes: list[dict] = []
        self.spark = None

    def prepare(self) -> None:
        """Inputs, and a scratch tree inside the checkout for Spark's local
        dirs, the JVM and Python temp dirs and the vote spool."""
        self.inputs = make_inputs(os.path.join(WORK, "inputs"), self.seed, N_ORDERS)
        for sub in ("local", "tmp", "spool", "events", "ckpt"):
            os.makedirs(os.path.join(self.dir, sub), exist_ok=True)
        tmp = os.path.join(self.dir, "tmp")
        os.environ.update({
            "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
            "SPARK_LOCAL_DIRS": os.path.join(self.dir, "local"),
            "SPARK_GRAFT_SCRATCH": os.path.join(self.dir, "spool"),
            "TMPDIR": tmp,
            # -XX:-UsePerfData: HotSpot would write /tmp/hsperfdata_<user>
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        })
        tempfile.tempdir = None

    def execute(self) -> None:
        from stanford_relation_extractor_spark.session import get_spark
        from stanford_relation_extractor_spark.sources.synthetic import transcripts_df
        from stanford_relation_extractor_spark.sources.tables import register_views

        conf = {"spark.driver.memory": DRIVER_MEMORY, "spark.ui.showConsoleProgress": "false"}
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.dir, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0, c0 = time.monotonic(), cpu_s(None)
        self.spark = get_spark("kgbench", cpus=CORES, shuffle_partitions=CORES, extra_conf=conf)
        self.jvm = jvm_pid(self.spark)
        self.tracer = Tracer(self.spark.sparkContext if self.trace else None)
        with self.tracer.span("sources.views"):
            register_views(self.spark, self.inputs)
        with self.tracer.span("sources.transcripts"):
            self.turns = transcripts_df(self.spark, self.inputs).count()
        self.setup_s = time.monotonic() - t0
        self.setup_cpu_s = cpu_s(self.jvm) - c0

        # kg_microbatch: the first batch, then batches until `seconds`
        # after it ended (at least WARM_BATCHES); kg_resumable: passes
        # until `seconds` after set-up (at least one)
        if self.fused:
            self.passes.append(self.operation(self.fused_pass, 0))
            deadline = time.monotonic() + self.seconds
            while len(self.passes) <= WARM_BATCHES or time.monotonic() < deadline:
                self.passes.append(self.operation(self.fused_pass, len(self.passes)))
            if self.trace:
                self.recovery = self.operation(self.fused_recovery, len(self.passes))
        else:
            deadline = t0 + self.setup_s + self.seconds
            while not self.passes or time.monotonic() < deadline:
                self.passes.append(self.operation(self.resumable_pass, len(self.passes)))
        self.operation(self.ensemble_check, len(self.passes))
        self.peak_rss_mb = peak_rss_mb(self.spark)
        if self.trace:
            self.canon_rows = self.canonicalize_rows()

    def operation(self, step, index: int) -> dict:
        """One pass (or check) and its checks; a failure is counted."""
        self.attempted += 1
        try:
            rec = step(index)
        except Exception:  # noqa: BLE001 -- the run goes on and reports the failure
            rec = {"problems": [f"#{index}: {traceback.format_exc(limit=4)}"]}
        if rec["problems"]:
            self.failed += 1
            self.problems += rec["problems"]
            rec["failed"] = True
        return rec

    def measured(self) -> list[dict]:
        """The passes `turns_per_cpu_s` measures: batches after the first on
        kg_microbatch; every pass on kg_resumable, whose shipped form
        (`run_job` under spark-submit) always starts in a fresh JVM."""
        return [p for p in (self.passes[1:] if self.fused else self.passes) if not p.get("failed")]

    # --- kg_microbatch -----------------------------------------------------

    def fused_pass(self, index: int) -> dict:
        from stanford_relation_extractor_spark.plans import pipeline as P

        P._cleanup_spools()  # the previous batch's spool, outside the timed pass
        tr = self.tracer
        with tr.span("pass") as sp:
            c0, t0 = cpu_s(self.jvm), time.monotonic()
            with tr.span("pipeline.build_stages"):
                st = P.build_stages(self.spark, self.inputs)
            with tr.span("pipeline.spool"):
                st["votes_cut"]
            with tr.span("canonicalize.surfaces"):
                st["surfaces"]
            with tr.span("canonicalize.canon_map"):
                st["canon_map"]
            with tr.span("ensemble.combine_votes"):
                st["candidates"]
            with tr.span("canonicalize.alt_names"):
                st["alt_names"]
            with tr.span("consistency.apply_consistency"):
                st["triples"]
            with tr.span("sinks.collect"):
                triples = st["triples"].toPandas()
            wall = time.monotonic() - t0
            cpu = cpu_s(self.jvm) - c0
        self.last = st
        spool_mb = dir_mb(os.environ["SPARK_GRAFT_SCRATCH"])
        return {
            "wall": wall, "cpu": cpu, "span": sp, "store_mb": spool_mb, "votes_mb": spool_mb,
            "triples": triples, "problems": checks.check_triples(triples),
        }

    def fused_recovery(self, index: int) -> dict:
        """Drop the last batch's `candidates` and `triples` and rebuild
        them from the stages that survive (vote spool, canon map); the
        traced run reports its wall as `pipeline.recover_s`."""
        st = self.last
        for name in RECOVERED:
            del st[name]
        with self.tracer.span("pipeline.recover"):
            t0 = time.monotonic()
            triples = st["triples"].toPandas()
            wall = time.monotonic() - t0
        return {"recover_s": wall, "problems": checks.check_same(
            "recovered triples vs the batch's", triples, self.passes[-1]["triples"])}

    # --- kg_resumable ------------------------------------------------------

    def resumable_pass(self, index: int) -> dict:
        from stanford_relation_extractor_spark.plans.pipeline import run_pipeline

        ckpt = os.path.join(self.dir, "ckpt", f"pass{index}")
        tr = self.tracer
        walls, cpus, stamps, manifests = {}, {}, {}, {}
        with tr.span("pass") as sp:
            for step in ("cold", "recover", "resume"):
                if step == "recover":
                    for name in RECOVERED:
                        shutil.rmtree(os.path.join(ckpt, name))
                before = manifest_stamps(ckpt)
                with tr.span(f"pipeline.run_pipeline.{step}") as rsp:
                    c0, t0, w0 = cpu_s(self.jvm), time.monotonic(), time.time()
                    out = run_pipeline(self.spark, self.inputs, ckpt)
                    walls[step] = time.monotonic() - t0
                    cpus[step] = cpu_s(self.jvm) - c0
                stamps[step] = (before, manifest_stamps(ckpt))
                manifests[step] = out["manifests"]
                if rsp is not None:
                    stage_spans(tr, rsp, ckpt, w0, *stamps[step])
                if step == "cold":
                    store_mb = dir_mb(ckpt)
                    votes_mb = sum(dir_mb(os.path.join(ckpt, s)) for s in ("sentences", "votes"))
                    cold = checks.read_parquet(os.path.join(ckpt, "triples"))
        self.last_ckpt = ckpt
        return {
            "wall": walls["cold"], "cpu": cpus["cold"],
            "pass_s": sum(walls.values()), "pass_cpu": sum(cpus.values()),
            "recover_s": walls["recover"], "span": sp, "store_mb": store_mb, "votes_mb": votes_mb,
            "triples": cold, "problems": self.resumable_checks(ckpt, cold, stamps, manifests),
        }

    def resumable_checks(self, ckpt: str, cold, stamps: dict, manifests: dict) -> list[str]:
        bad = checks.check_triples(cold)
        final = checks.read_parquet(os.path.join(ckpt, "triples"))
        bad += checks.check_same("recovered and resumed triples vs cold", final, cold)
        for step, mans in manifests.items():
            for name in STAGES:
                want = (mans[name] or {}).get("row_count")
                got = checks.parquet_rows(os.path.join(ckpt, name))
                if got != want:
                    bad.append(f"{step}: stage {name} holds {got} rows, its manifest says {want}")
        before, after = stamps["recover"]
        rewritten = {s for s in STAGES if before.get(s) != after.get(s)}
        if rewritten != set(RECOVERED):
            bad.append(f"recovery rewrote {sorted(rewritten)}, not {sorted(RECOVERED)}")
        if stamps["resume"][0] != stamps["resume"][1]:
            bad.append("the full resume rewrote a manifest")
        return bad

    # --- once per run, outside the timed passes ----------------------------

    def ensemble_check(self, index: int) -> dict:
        """Recompute noisy-or + AGREE_MOST in pandas from the last pass's
        linked votes; the engine's candidates must equal it."""
        from stanford_relation_extractor_spark.operators.ensemble import EXTRACTORS, GROUP_KEY

        cols = GROUP_KEY + ["extractor", "score"]
        if self.fused:
            linked = self.last["linked_votes"].select(cols).toPandas()
            cand = self.last["candidates"].toPandas()
        else:
            linked = checks.read_parquet(os.path.join(self.last_ckpt, "linked_votes"))[cols]
            cand = checks.read_parquet(os.path.join(self.last_ckpt, "candidates"))
            # this stage also holds the alternate-name fills, whose
            # provenance is the linker, not an extractor
            cand = cand[cand["provenance_extractor"].isin(EXTRACTORS)]
        self.candidates_rows = len(cand)
        return {"problems": checks.check_candidates(linked, cand)}

    def canonicalize_rows(self) -> tuple[int, int]:
        """(surfaces, canon map rows) of the last pass."""
        if self.fused:
            return self.last["surfaces"].count(), self.last["canon_map"].count()
        from stanford_relation_extractor_spark.operators.canonicalize import vote_surfaces

        votes = self.spark.read.parquet(os.path.join(self.last_ckpt, "votes"))
        return vote_surfaces(votes).count(), checks.parquet_rows(os.path.join(self.last_ckpt, "canon_map"))

    def oracle_check(self) -> None:
        """After the session has stopped: the DuckDB oracle (cached per
        inputs, computed in its own process on a miss) must equal the
        triples of every pass that did not already fail."""
        cache = os.path.join(WORK, "oracle")
        path, _, weights = oracle.cached(self.inputs, cache)
        print(f"oracle pattern weights: {weights}", file=sys.stderr)
        if not os.path.exists(path):
            subprocess.run(
                [sys.executable, os.path.join(ROOT, "kgbench", "oracle.py"),
                 "--inputs", self.inputs, "--cache", cache],
                check=True, stdout=subprocess.DEVNULL,
            )
        want = checks.read_parquet(path)
        for i, p in enumerate(self.passes):
            if p.get("failed"):
                continue
            bad = checks.check_same(f"pass {i} triples vs oracle", p["triples"], want)
            if bad:
                self.failed += 1
                self.problems += bad
                p["failed"] = True

    # --- metrics -----------------------------------------------------------

    def end_to_end(self) -> dict:
        """CPU seconds of this process, the JVM and its Python workers,
        not wall time: other tenants of a shared host stretch the wall
        clock by tens of percent from one run to the next, and the CPU
        time the pipeline spends hardly at all (README.md)."""
        first, warm = self.passes[0], self.measured()
        return {
            "setup_s": self.setup_cpu_s,
            "first_pass_cpu_s": first.get("pass_cpu", first.get("cpu")),
            "turns_per_cpu_s": self.turns / statistics.median(p["cpu"] for p in warm),
            "store_mb": statistics.median(p["store_mb"] for p in warm),
            "peak_rss_mb": self.peak_rss_mb,
        }

    def per_layer(self, log: EventLog) -> dict:
        """Per-layer numbers, as medians over the passes `turns_per_cpu_s`
        measures. Within a pass the window is the timed step (the batch; the
        cold run). Stage walls come from spans: the benchmark's calls on
        kg_microbatch, the stage manifests' write times on kg_resumable.
        Module counters come from the event log of the jobs in the window."""
        tr = self.tracer
        dur = lambda sp: sp["end"] - sp["start"]  # noqa: E731
        samples = []
        for p in self.measured():
            win = p["span"] if self.fused else next(
                s for s in tr.spans if s["parent"] == p["span"]["id"] and s["name"].endswith(".cold")
            )
            kids = {s["name"]: dur(s) for s in tr.spans if s["parent"] == win["id"]}
            k = lambda *names: sum(kids.get(n, 0.0) for n in names)  # noqa: E731
            if self.fused:
                votes = k("pipeline.spool")
                canon = k("canonicalize.surfaces", "canonicalize.canon_map")
                tail = k("ensemble.combine_votes", "canonicalize.alt_names",
                         "consistency.apply_consistency", "sinks.collect")
            else:
                votes = k("sinks.sentences", "sinks.votes")
                canon = k("sinks.canon_map")
                tail = k("sinks.linked_votes", "sinks.candidates", "sinks.triples")
            c = pass_counters(log, win["start"], win["end"])
            samples.append({
                "pipeline.votes_stage_s": votes,
                "pipeline.canon_stage_s": canon,
                "pipeline.triples_stage_s": tail,
                "pipeline.spool_s": votes - c["votes_wall_s"],
                "pipeline.spool_mb": p["votes_mb"],
                "extractors.votes_s": c["votes_wall_s"],
                "extractors.python_s": c["votes_py_s"],
                "extractors.votes_rows": c["votes_rows"],
                "extractors.task_cpu_s": c["votes_cpu_s"],
                "ensemble.candidates_s": c["ensemble_wall_s"],
                "ensemble.shuffle_write_mb": c["ensemble_shuffle_write_mb"],
                "ensemble.gc_s": c["ensemble_gc_s"],
                "consistency.self_s": c["consistency_wall_s"],
                "consistency.jobs": c["consistency_jobs"],
                "consistency.triples_rows": len(p["triples"]),
                "spark.jobs": c["jobs"],
                "spark.tasks": c["tasks"],
                "spark.driver_gap_s": c["driver_gap_s"],
                "spark.task_cpu_s": c["task_cpu_s"],
                "spark.gc_s": c["gc_s"],
                "spark.shuffle_write_mb": c["shuffle_write_mb"],
                "trace.coverage": tr.coverage(win),
                "trace.pass_s": p["wall"],
                "trace.pass_cpu_s": p["cpu"],
            })
        out = {name: statistics.median(s[name] for s in samples) for name in samples[0]}
        setup = {s["name"]: dur(s) for s in tr.spans if s["parent"] is None}
        out["trace.setup_wall_s"] = self.setup_s
        first = self.passes[0]
        out["trace.first_pass_wall_s"] = first.get("pass_s", first.get("wall"))
        out["sources.views_s"] = setup["sources.views"]
        out["sources.transcripts_s"] = setup["sources.transcripts"]
        out["ensemble.candidates_rows"] = self.candidates_rows
        recoveries = [self.recovery] if self.fused else self.measured()
        out["pipeline.recover_s"] = statistics.median(r["recover_s"] for r in recoveries if not r.get("failed"))
        out["canonicalize.surfaces_rows"], out["canonicalize.canon_map_rows"] = self.canon_rows
        return out


def dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    ) / 2**20


def manifest_stamps(ckpt: str) -> dict[str, tuple[int, int]]:
    """(mtime, inode) of each stage's manifest; a rewrite changes both."""
    out = {}
    for name in STAGES:
        try:
            st = os.stat(os.path.join(ckpt, name, "_MANIFEST.json"))
        except FileNotFoundError:
            continue
        out[name] = (st.st_mtime_ns, st.st_ino)
    return out


def stage_spans(tr: Tracer, parent: dict, ckpt: str, t_start: float, before: dict, after: dict) -> None:
    """Spans for the stages a run_pipeline call wrote, bounded by the
    write times of the manifests it left (the stages land in order)."""
    prev = t_start
    for name in STAGES:
        if name in after and after[name] != before.get(name):
            end = after[name][0] / 1e9
            tr.add(f"sinks.{name}", prev, end, parent["id"])
            prev = end


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(jvm: int | None) -> float:
    """CPU seconds used so far by this process and by the JVM with every
    process under it (user + system, children reaped included)."""
    t = os.times()
    total = t.user + t.system
    for pid in ([jvm] + descendants(jvm)) if jvm else []:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15]) / _TICK
    return total


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(spark) -> float:
    """Sum of the kernel's high-water marks (VmHWM) of the JVM and of
    the Python worker processes under it."""
    jvm = jvm_pid(spark)
    total_kb = 0
    for pid in [jvm] + descendants(jvm):
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass
    return total_kb / 1024


def stop(spark) -> None:
    """Stop the session, then wait until the JVM and its Python workers
    have exited (the JVM exits when its stdin closes)."""
    jvm = jvm_pid(spark)
    pids = [jvm] + descendants(jvm)
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


UNITS = (("_per_cpu_s", "turns/cpu-s"), ("_s", "s"), ("_mb", "MB"), ("_rows", "rows"),
         (".jobs", "count"), (".tasks", "count"), (".coverage", "share"))


def unit(name: str) -> str:
    return next(u for suffix, u in UNITS if name.endswith(suffix))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("kg_microbatch", "kg_resumable"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import stanford_relation_extractor_spark  # noqa: F401 -- fail at once without the program

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        run.prepare()
        try:
            run.execute()
        finally:
            if run.spark is not None:
                stop(run.spark)
        run.oracle_check()
        for p in run.problems:
            print("CHECK FAILED:", p, file=sys.stderr)
        if run.trace:
            events = os.path.join(run.dir, "events")
            (log,) = [os.path.join(events, f) for f in os.listdir(events)]
            metrics = run.per_layer(EventLog(log))
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            run.tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = run.end_to_end()
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)
    print(json.dumps({
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
