#!/usr/bin/env python3
"""Cross-checks perfbench/digests.json against the DuckDB oracle.

    python3 perfbench/crosscheck.py [--sf-dir DIR]

For every dashboard and curation entry: `graft.Verify` dumps the entry's
output as parquet, `tools/local_verify.py` compares each dump with the
entry's `SparkEntry.oracleSql` in DuckDB, and the harness digests each
dump. It fails when an oracle disagrees or a dump's digest differs from the
recorded one; an oracle query that DuckDB cannot finish within a minute at
this scale is listed as unchecked. Incident digests have no oracle; they are checked
against `IncidentPipeline.run` itself on every benchmark run.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys

import run

ORACLE_TIMEOUT_S = 60


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=run.DEFAULT_SF)
    a = ap.parse_args()
    run.build()
    names = sorted(set(run.DASHBOARD) | set(run.CURATION))
    out = os.path.join(run.BUILD, "crosscheck")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(run.cpus()))
    java = ["java"] + [x for p in run.ADD_OPENS
                       for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        run.HEAP, "-Djava.io.tmpdir=" + os.path.join(out, "tmp"),
        "-Dspark.local.dir=" + os.path.join(out, "tmp"),
        "-cp", run.CLASSES + os.pathsep + jars]
    with open(os.path.join(run.BUILD, "crosscheck.log"), "w") as log:
        subprocess.check_call(java + ["graft.Verify", a.sf_dir, out] + names,
                              cwd=run.ROOT, env=env, stdout=log, stderr=log)
    shutil.rmtree(os.path.join(out, "tmp"))
    # one entry per local_verify call, so an oracle query too slow for
    # DuckDB at this scale is reported rather than stalling the rest
    green, slow = [], []
    for n in names:
        one = os.path.join(out, "oracle", n)
        os.makedirs(one)
        os.symlink(os.path.join(out, n), os.path.join(one, n))
        shutil.copy(os.path.join(out, "oracle_sql.json"), one)
        try:
            r = subprocess.run(
                [sys.executable, os.path.join(run.ROOT, "tools", "local_verify.py"),
                 a.sf_dir, one], cwd=one, capture_output=True, text=True,
                timeout=ORACLE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            slow.append(n)
            print("  %-26s oracle unfinished after %d s" % (n, ORACLE_TIMEOUT_S))
            continue
        if not re.search(r"\b1 pass, 0 fail", r.stdout):
            print(r.stdout)
            run.die("oracle check failed for %s" % n)
        green.append(n)
        print("  %-26s oracle pass" % n)

    dirs = [os.path.join(out, n) for n in green]
    res = run.run_harness("parquet", [dirs], a.sf_dir, 0, "crosscheck")
    with open(run.DIGESTS) as f:
        recorded = json.load(f)[run.sf_name(a.sf_dir)]
    bad = 0
    for n, o in zip(green, res["ops"]):
        w = "dashboard" if n in run.DASHBOARD else "curation"
        want = recorded.get("%s:%s" % (w, n))
        if o["error"] or o["digest"] != want:
            bad += 1
            print("MISMATCH %s: dump %s, recorded %s" % (n, o["digest"] or o["error"], want))
    print("%d of %d recorded digests match oracle-verified outputs; "
          "%d oracles did not finish: %s" % (len(green) - bad, len(green),
                                             len(slow), " ".join(slow)))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
