#!/usr/bin/env python3
"""Confirm the stored result hashes of the query_mix list against DuckDB.

Usage (from the repository root):
    python3 perfbench/tools/confirm_hashes.py

Runs every query listed in perfbench/queries.tsv once on perfbench/data/sf0.01,
dumps each result as parquet, compares it cell by cell with the query's DuckDB
oracle SQL (SparkEntry.oracleSql) using scripts/oracle_check.py, and rewrites
queries.tsv: a confirmed query gets the SHA-256 of its result (the benchmark
compares every run against it), a query whose oracle does not confirm is
commented out with the reason.
"""
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import run  # noqa: E402

LIST = os.path.join(HERE, "queries.tsv")
DATA = os.path.join(HERE, "data", "sf0.01")


def main():
    lines = open(LIST).read().splitlines()
    header = [l for l in lines if l.startswith("#") and "\t" not in l]
    entries = []
    for l in lines:
        body = l.lstrip("# ").split("  -- ")[0]
        parts = body.split("\t")
        if len(parts) == 4:
            entries.append(parts[:3])
    names = [e[0] for e in entries]

    classes = run.build(run.digest(run.source_files()))
    out = os.path.join(HERE, ".work", "confirm")
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    cmd = [java]
    for p in run.ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-cp",
            classes + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*"),
            "perfbench.Main", "--dump", os.path.join(out, "results"), "--work", out,
            "--data", DATA] + names
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    res = os.path.join(out, "results")
    hashes = dict(l.split("\t") for l in open(os.path.join(res, "hashes.tsv")).read().split("\n") if l)

    check = subprocess.run([sys.executable, os.path.join(run.ROOT, "scripts", "oracle_check.py"),
                            DATA, res] + names, capture_output=True, text=True)
    verdict = {}
    for l in check.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):? (.*)", l)
        if m:
            verdict[m.group(2)] = (m.group(1) == "PASS", m.group(3))
    rows = list(header)
    for name, family, op in entries:
        ok, why = verdict.get(name, (False, "no oracle verdict"))
        if ok and not hashes.get(name, "error").startswith("error"):
            rows.append("\t".join([name, family, op, hashes[name]]))
        else:
            rows.append("# " + "\t".join([name, family, op, "unconfirmed"]) + f"  -- not confirmed: {why}")
        print(("PASS " if ok else "FAIL ") + name + ("" if ok else f": {why}"))
    open(LIST, "w").write("\n".join(rows) + "\n")
    shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
