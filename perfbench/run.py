#!/usr/bin/env python3
"""The repository benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine (src/main/scala) and
the benchmark harness (perfbench/src) with the Scala compiler shipped in
$SPARK_HOME/jars, generates the workload's inputs from the seed, runs one
JVM in local[<cores>] mode as a closed loop with one client, checks every
output, and prints each metric as `name value unit` followed by one JSON
line (the last line of stdout):

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics of
a traced run (listeners on; its spans go to .perfbench_work/). Workloads
and metrics are described in perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import osmgen  # noqa: E402
import stats  # noqa: E402

HERE = Path(__file__).resolve().parent

def spark_jars():
    """$SPARK_HOME/jars, or the jars beside the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    if not home or not (Path(home) / "jars").is_dir():
        die("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return Path(home) / "jars"

SCALA_VERSION = "2.13.17"
WORKLOADS = ("osm_etl", "query_heavy")
OSM_NODES = 480_000        # ~125 MB of XML in 4 shards
OSM_SMALL_NODES = 2_000    # osm_etl warm-up; OSM probe of traced query runs
HEAP = "4g"
DEADLINE_S = 170           # a run must end within 180 s
MAX_PASSES = 50
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def scalac(files, out, classpath, root):
    """Compile `files` into `out` unless its stamp matches."""
    key = stamp(files, SCALA_VERSION + classpath)
    mark = out / ".stamp"
    if mark.exists() and mark.read_text() == key:
        return
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = [spark_jars() / f"scala-{j}-{SCALA_VERSION}.jar"
            for j in ("compiler", "library", "reflect")]
    for j in jars:
        if not j.is_file():
            die(f"Scala compiler not found: {j}")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-cp", ":".join(map(str, jars)), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", classpath,
           *map(str, files)]
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die(f"compile failed for {out.name}")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    mark.write_text(key)


def build(root):
    main_src = root / "src" / "main" / "scala"
    if not main_src.is_dir() or not sources(main_src):
        die(f"engine sources not found under {main_src}")
    build_dir = root / ".perfbench_build"
    spark_cp = str(spark_jars() / "*")
    scalac(sources(main_src), build_dir / "main", spark_cp, root)
    bench_cp = f"{build_dir / 'main'}:{spark_cp}"
    scalac(sources(HERE / "src"), build_dir / "bench", bench_cp, root)
    return f"{build_dir / 'bench'}:{bench_cp}"


def query_list(workload):
    lines = (HERE / "workloads" / f"{workload}.txt").read_text().splitlines()
    return [ln.strip() for ln in lines
            if ln.strip() and not ln.startswith("#")]


def query_order(names, seed, pass_no):
    """The seed's permutation of the workload's queries for one pass."""
    order = list(names)
    random.Random(f"{seed}/{pass_no}").shuffle(order)
    return order


def engine_scratch_dirs(data_dir):
    """Scratch directories the engine itself creates under /tmp for queries
    over `data_dir` (landing/epoch/JSONL stores and bucketed stores are
    keyed by a tag of the data directory, plus `<tag>.<marker>` siblings);
    removed after each run."""
    d = str(data_dir)

    def jhash(s):  # java.lang.String.hashCode, as unsigned 32 bits
        b, h = s.encode("utf-16-be"), 0
        for i in range(0, len(b), 2):
            h = (31 * h + (b[i] << 8 | b[i + 1])) & 0xFFFFFFFF
        return h

    def keep(c, extra):
        return (c.isascii() and c.isalnum()) or c in extra
    tag = "".join(c if keep(c, "._-") else "_" for c in d)
    tag = f"{tag}-{jhash(d):08x}"
    suffix = "".join(c if keep(c, "") and not c.isupper() else "_"
                     for c in d.lower())
    suffix = f"{suffix}_{jhash(d):08x}"
    return [p for base in Path("/tmp").glob("graft_*") if base.is_dir()
            for p in base.iterdir()
            if any(p.name == t or p.name.startswith(t + ".")
                   for t in (tag, suffix))]


def run_jvm(cp, args, deadline):
    # the heap never shrinks: HeapWatch's full collections between timed
    # operations would otherwise shrink it, and the next operation would
    # pay to grow it again (measured on a 4-core VM: query_heavy's ten-seed
    # suite_s spread fell from 0.18 to 0.09)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:MaxHeapFreeRatio=100", "-Xss8m",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={args['work']}/tmp",
           *[x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", cp, "perfbench.Main", args.pop("mode")]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, err = proc.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("run exceeded its time limit")
    if proc.returncode != 0:
        sys.stderr.write(err[-6000:])
        die(f"harness exited with {proc.returncode}")
    return out


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = Path.cwd().resolve()
    data = HERE / "data" / "sf0.1"
    if not (data / "documents.parquet").is_file():
        die(f"benchmark data not found under {data}")

    cp = build(root)
    work = root / ".perfbench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        args = {"mode": "run", "workload": a.workload, "seed": a.seed,
                "seconds": a.seconds, "trace": a.trace, "cores": cores(),
                "work": work, "data": data,
                "out": work / "result.json",
                "trace-out": root / ".perfbench_work" /
                f"trace-{a.workload}-{a.seed}.json"}
        if a.workload == "osm_etl" or a.trace:
            # small input: the osm_etl warm-up, or the traced query
            # workloads' OSM probe
            osmgen.generate(a.seed, work / "osm-small", OSM_SMALL_NODES)
        if a.workload == "osm_etl":
            osmgen.generate(a.seed, work / "osm-input", OSM_NODES)
            args["osm-input"] = work / "osm-input"
            args["osm-warmup"] = work / "osm-small"
        else:
            args["warmup"] = HERE / "workloads" / f"{a.workload}.warmup.txt"
            args["warmup-data"] = HERE / "data" / "sf0.001"
            names = query_list(a.workload)
            orders = work / "orders.json"
            orders.write_text(json.dumps(
                [query_order(names, a.seed, p) for p in range(MAX_PASSES)]))
            args["orders"] = orders
            args["expected"] = HERE / "expected" / "sf0.1.json"
        if a.trace:
            args["osm-probe"] = work / "osm-small"
        args["spawn-ms"] = int(time.time() * 1000)
        run_jvm(cp, args, t_start + DEADLINE_S)
        raw = json.loads((work / "result.json").read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
        for p in (engine_scratch_dirs(data) +
                  engine_scratch_dirs(HERE / "data" / "sf0.001")):
            if p.is_dir():
                shutil.rmtree(p, ignore_errors=True)
            else:
                p.unlink(missing_ok=True)

    report = stats.report(raw, a.workload, bool(a.trace))
    for name, (value, unit) in report["printed"].items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({"correct": report["correct"],
                      "attempted": raw["attempted"], "failed": raw["failed"],
                      "metrics": report["metrics"]}))


if __name__ == "__main__":
    main()
