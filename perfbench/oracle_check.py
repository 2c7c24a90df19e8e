#!/usr/bin/env python3
"""Cross-checks the benchmark's queries against their DuckDB oracles on the
benchmark's own input tables: dumps each workload query with graft.Verify
and replays the oracle SQL with tools/check_oracle.py (needs the duckdb
Python module). Run it once whenever perfbench/expected/ is recorded again.

    python3 perfbench/oracle_check.py
"""
import os
import shutil
import subprocess
import sys

import build
from run import ADD_OPENS, BENCH, ROOT, load_json


def main():
    classpath, _ = build.build()
    spec = load_json(os.path.join(BENCH, "workloads.json"))
    names = [q for w in spec["workloads"].values() for q in w["queries"]]
    data = os.path.join(BENCH, spec["data"])
    work = os.path.join(ROOT, ".bench_build", "perfbench", "oracle")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-XX:-UsePerfData"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xmx2g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "perfbench.OracleDump",
            data, os.path.join(work, "dump"), os.path.join(work, "scratch")]
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(names),
               SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    subprocess.run(cmd, env=env, check=True, stdout=subprocess.DEVNULL)
    dumped = load_json(os.path.join(work, "dump", "oracle_sql.json"))
    missing = sorted(set(names) - set(dumped))
    code = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                           data, os.path.join(work, "dump")]).returncode
    shutil.rmtree(work, ignore_errors=True)
    if missing:
        print(f"no oracle for: {missing}")
    sys.exit(code)


if __name__ == "__main__":
    main()
