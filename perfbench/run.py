"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_backlog --seed 1 --seconds 10 --trace 0

Run from the repository root. Starts one Spark session at
``local[nproc]`` in this process, runs one workload (see README.md),
checks its outputs, and prints as its last stdout line one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything the run writes goes under ``.perfbench/`` in
the checkout; the run context and the traced run's spans are kept in
``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_backlog", "crawl_discovery", "corpus")
# (name, unit) of the end-to-end metrics, in BENCHMARK.json order
E2E = [("throughput", "1/s"), ("cycle_s_p50", "s"), ("setup_s", "s"),
       ("peak_rss_mb", "MB")]
# printed and kept in the context, not gated: a resume is a 0.2-2 s op
# whose run-to-run spread under host contention passes any bound
UNGATED = [("resume_s", "s")]
# the names printed for the same figures, per workload family
ALIASES = {
    "crawl": {"throughput": ("crawl_urls_per_s", "urls/s"),
              "cycle_s_p50": ("round_s_p50", "s")},
    "corpus": {"throughput": ("ingest_docs_per_s", "docs/s"),
               "cycle_s_p50": ("suite_s", "s")},
}
DRIVER_MEM = "3g"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# -- processes --------------------------------------------------------------

def _procs() -> dict[int, tuple[int, int, str]]:
    """pid -> (parent pid, resident pages, command name) for every
    visible process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
            fields = tail.split()
            out[int(entry)] = (int(fields[1]), int(fields[21]), head.split("(", 1)[1])
        except (OSError, IndexError):
            continue
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: a page shared by n processes counts 1/n."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(procs: dict[int, tuple[int, int, str]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    found, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            found.append(c)
            todo.append(c)
    return found


def busy_reason() -> str | None:
    """Why the host is not fit to measure: another Spark JVM or a
    pytest run outside this process tree. None when it is fit."""
    procs = _procs()
    mine = {os.getpid(), *descendants(procs, os.getpid())}
    pid = os.getpid()
    while pid in procs and pid > 1:  # our ancestors launched us
        mine.add(pid)
        pid = procs[pid][0]
    for pid in procs:
        if pid in mine:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                args = [a.decode(errors="replace") for a in f.read().split(b"\0") if a]
        except OSError:
            continue
        head = [os.path.basename(a) for a in args[:4]]
        if ("org.apache.spark.deploy.SparkSubmit" in args
                or "pytest" in head[:2] or "py.test" in head[:2]
                or ("-m" in head and "pytest" in head)):
            return f"pid {pid} is running: {' '.join(args)[:300]}"
    return None


class RssSampler(threading.Thread):
    """Peak resident memory of this process tree, sampled every
    ``interval`` seconds: the Spark JVM's RSS plus the proportional set
    size of every other process, so the pages that forked Python workers
    share with their daemon count once. (The JVM shares nothing; reading
    its smaps would cost ~25 ms and stall its allocator.)"""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_jvm_mb = 0.0
        self._stop_event = threading.Event()
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024

    def sample(self) -> None:
        procs = _procs()
        jvm_kb = other_kb = 0
        for pid in [os.getpid(), *descendants(procs, os.getpid())]:
            if pid not in procs:
                continue
            if procs[pid][2] == "java":
                jvm_kb += procs[pid][1] * self._page_kb
            else:
                other_kb += _pss_kb(pid)
        self.peak_mb = max(self.peak_mb, (jvm_kb + other_kb) / 1024.0)
        self.peak_jvm_mb = max(self.peak_jvm_mb, jvm_kb / 1024.0)

    def run(self) -> None:
        while not self._stop_event.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop_event.set()
        self.join()
        self.sample()


def stop_children(timeout: float = 30.0) -> None:
    """Shut the Spark gateway JVM down and wait for every process this
    run started to end; kill what is left after ``timeout``."""
    pids = descendants(_procs(), os.getpid())
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# -- run context ----------------------------------------------------------

def base_context(args: argparse.Namespace, nproc: int) -> dict:
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, check=False)
        commit = r.stdout.strip() or None
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "master": f"local[{nproc}]",
        "loadavg": os.getloadavg(), "git_commit": commit,
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }


def session_factory(work: str):
    tmp = os.path.join(work, "tmp")

    def make(cpus: int, event_log_dir: str | None):
        from news_crawler_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if event_log_dir is not None:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus, extra_conf=conf)

    return make


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "news_crawler_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no news_crawler_spark package under {ROOT}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    out_dir, work = os.path.join(base, "out"), os.path.join(base, "run")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    reason = busy_reason()
    if reason is not None:
        with open(os.path.join(out_dir, f"refused-{tag}.json"), "w") as f:
            json.dump({"refused": reason, "time": time.time()}, f)
        print(f"perfbench: refusing to run: {reason}", file=sys.stderr)
        return 3

    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "local"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM),
    })
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import probes
    import tracing
    import workloads

    nproc = len(os.sched_getaffinity(0))
    b = workloads.Bench(work, args.seed, args.seconds, bool(args.trace), nproc,
                        session_factory(work), T_PROCESS)
    b.context.update(base_context(args, nproc))
    b.context["t_process"] = T_PROCESS
    rss = RssSampler()
    rss.start()
    try:
        b.start_session()
        if args.workload == "corpus":
            workloads.run_corpus(b)
        else:
            workloads.run_crawl(b, discovery=args.workload == "crawl_discovery")
    except Exception as exc:  # the run still reports what it measured
        import traceback

        traceback.print_exc(file=sys.stderr)
        b.fail(f"{args.workload}: {type(exc).__name__}: {exc}")
    finally:
        b.stop_session()
        stop_children()
        rss.stop()
        b.mark("stop")
    b.e2e["peak_rss_mb"] = rss.peak_mb
    b.context["peak_rss_mb_jvm"] = rss.peak_jvm_mb
    del b.context["t_process"]
    b.context["errors"] = b.errors

    if args.trace:
        stats = tracing.span_stats(b.event_log_dir, b.tracer.spans) if b.event_log_dir else {}
        values = probes.layer_metrics(b.tracer.spans, stats, b.recorded, workloads.QUERIES,
                                      b.context.get("session_start_s"))
        units = dict(probes.per_layer_names(workloads.QUERIES))
        b.tracer.write(os.path.join(out_dir, f"spans-{tag}.json"))
        with open(os.path.join(out_dir, f"span-stats-{tag}.json"), "w") as f:
            json.dump({str(k): v for k, v in stats.items()}, f, indent=1)
    else:
        values, units = {n: b.e2e.get(n) for n, _ in E2E}, dict(E2E)
        family = ALIASES["corpus" if args.workload == "corpus" else "crawl"]
        for name, unit in E2E + UNGATED:
            alias, alias_unit = family.get(name, (name, unit))
            print(f"perfbench: {alias} = {b.e2e.get(name)} {alias_unit}")
        b.context["resume_s"] = b.e2e.get("resume_s")
        print(f"perfbench: op_failure_rate = {b.failed / max(1, b.attempted)} ratio")
    with open(os.path.join(out_dir, f"context-{tag}.json"), "w") as f:
        json.dump(b.context, f, indent=1)
    print(json.dumps({"context": b.context}))
    shutil.rmtree(work, ignore_errors=True)

    complete = all(v is not None for v in values.values()) or bool(args.trace)
    print(json.dumps({
        "correct": b.failed == 0 and complete,
        "attempted": max(1, b.attempted),
        "failed": b.failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in values},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
