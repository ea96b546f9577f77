"""Generate a workload's inputs from a seed and print, per table, its row
count, its bytes and a SHA-256 of its data pages.

    python3 perfbench/gen.py --workload <name> --seed <n> [--check]

The benchmark calls the same generator during set-up. With --check the
inputs are generated twice and the two listings must match: the same
seed gives the same data. The hash leaves out each file's parquet footer,
which the writer does not reproduce byte for byte from identical rows.
"""
import argparse
import hashlib
import os
import re
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402


def data_files(table):
    """Data files of one table in write order; file names carry a random
    job id, so they are ordered by their part number alone."""
    fs = [f for f in os.listdir(table) if f.endswith(".parquet")]
    return sorted(fs, key=lambda f: (re.sub(r"-[0-9a-f-]{36}", "", f), f))


def data_pages(path):
    """A parquet file without its footer: the bytes before the footer,
    whose length is stored just ahead of the closing magic number."""
    with open(path, "rb") as fh:
        data = fh.read()
    return data[:len(data) - 8 - int.from_bytes(data[-8:-4], "little")], len(data)


def listing(cp, workload, seed, out):
    work = out + ".work"
    try:
        lines = subprocess.run(build.java_cmd(cp, ["gen", workload, str(seed), out], work), cwd=work,
                               env=build.jvm_env(work), stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True, check=True, timeout=600).stdout
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rows = dict(line.split("\t") for line in lines.strip().splitlines())
    result = []
    for table in sorted(rows):
        h = hashlib.sha256()
        size = 0
        for f in data_files(os.path.join(out, table)):
            pages, n = data_pages(os.path.join(out, table, f))
            h.update(pages)
            size += n
        result.append(f"{table}\t{rows[table]} rows\t{size} bytes\t{h.hexdigest()}")
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["aqp_prep", "txlog_churn", "index_follow"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--check", action="store_true")
    a = ap.parse_args()
    cp = build.build()
    base = os.path.join(build.ROOT, ".bench_build", "gen", f"{a.workload}-{a.seed}-{os.getpid()}")
    try:
        runs = []
        for i in range(2 if a.check else 1):
            out = os.path.join(base, str(i))
            os.makedirs(out)
            runs.append(listing(cp, a.workload, a.seed, out))
    finally:
        shutil.rmtree(base, ignore_errors=True)
    print("\n".join(runs[0]))
    if a.check:
        same = runs[0] == runs[1]
        print("identical" if same else "DIFFERENT: " + "\n".join(runs[1]))
        return 0 if same else 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
