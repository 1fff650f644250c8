#!/usr/bin/env python3
"""Regenerate perfbench/expected/sf0.1.json, the query workloads' expected
digests. Run from the repository root (needs tools/selfcheck.py, DuckDB and
about five minutes on four cores), with the full seed-42 sf0.1 table
directory whose `documents.parquet` the benchmark copies:

    python3 perfbench/make_expected.py <sf0.1 dir of TESTDATA.md>

1. `graft.Verify` writes every workload query's result over that directory;
   `tools/selfcheck.py` compares them with the DuckDB oracle (its views need
   every table). Any FAIL among the workload queries aborts.
2. The harness digests those oracle-checked results (`digest-dir`) and,
   twice, the live queries from released state (`record`, two orders).
3. A query whose three digests agree is checked by digest; one whose row
   counts agree but whose hashes differ is not bit-reproducible and is
   checked by row count only. Anything else aborts.
"""
import json
import os
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402


def main():
    root = Path.cwd().resolve()
    full = Path(sys.argv[1]).resolve()
    data = HERE / "data" / "sf0.1"
    for f in data.glob("*.parquet"):
        if f.read_bytes() != (full / f.name).read_bytes():
            sys.exit(f"{full / f.name} differs from the benchmark's copy")
    names = run.query_list("query_heavy")
    cp = run.build(root)
    with tempfile.TemporaryDirectory(dir=root / ".perfbench_build") as w:
        w = Path(w)
        (w / "tmp").mkdir()
        verify_out = w / "verify"
        env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(names),
                   SPARK_GRAFT_CPUS=str(run.cores()))
        jvm = ["java", f"-Xmx{run.HEAP}", "-Xss8m", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={w / 'tmp'}",
               *[x for p in run.JDK_OPENS
                 for x in ("--add-opens", f"{p}=ALL-UNNAMED")]]
        subprocess.run(jvm + ["-cp", cp, "graft.Verify", str(full),
                              str(verify_out)], env=env, check=True,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        check = subprocess.run([sys.executable, "tools/selfcheck.py",
                                str(full), str(verify_out)],
                               stdout=subprocess.PIPE, text=True)
        failed = [ln for ln in check.stdout.splitlines()
                  if ln.startswith("FAIL") and ln.split()[1].rstrip(":")
                  in names]
        if failed:
            sys.exit("oracle failures:\n" + "\n".join(failed))
        oracled = {ln.split()[1] for ln in check.stdout.splitlines()
                   if ln.startswith("ok ")}

        def harness(mode, **args):
            out = w / f"{mode}-{len(list(w.iterdir()))}.json"
            run.run_jvm(cp, {"mode": mode, "cores": run.cores(), "work": w,
                             "out": out, **args},
                        deadline=time.time() + 3600)
            return json.loads(out.read_text())

        verified = harness("digest-dir", dir=verify_out)
        live = []
        for order in (names, names[::-1]):
            qfile = w / "queries.txt"
            qfile.write_text("\n".join(order) + "\n")
            live.append(harness("record", data=data, queries=qfile))

    out = {}
    for n in names:
        ds = [verified.get(n, {})] + [r.get(n, {}) for r in live]
        if any("rows" not in d for d in ds):
            sys.exit(f"{n}: missing or failed digest {ds}")
        if len({d["rows"] for d in ds}) != 1:
            sys.exit(f"{n}: row counts differ {ds}")
        same = len({d["hash"] for d in ds}) == 1
        out[n] = {"mode": "digest" if same else "rows",
                  "rows": ds[0]["rows"], "hash": ds[0]["hash"],
                  "oracle": "duckdb" if n in oracled else "rows-only"}
    doc = {"input": "perfbench/data/sf0.1",
           "source": "graft.Verify results checked by tools/selfcheck.py, "
                     "digested by perfbench digest-dir; live digests from "
                     "two released-state record runs",
           "queries": out}
    (HERE / "expected" / "sf0.1.json").write_text(
        json.dumps(doc, indent=1, sort_keys=True) + "\n")
    rows_only = sorted(n for n, e in out.items() if e["mode"] == "rows")
    print(f"{len(out)} queries, row-count only: {rows_only}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main()
