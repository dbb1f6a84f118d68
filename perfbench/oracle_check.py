#!/usr/bin/env python3
"""Re-pins the query mix and cross-checks it against the DuckDB oracle.

    python3 perfbench/oracle_check.py <scratch-dir>

Run from the root of the repository. Runs one query_mix pass with
`--dump <scratch-dir>`, which writes each query's output as parquet, the
queries' `oracleSql`, the mix tables and the fingerprints the run saw
(`pins.tsv`). Then replays each `oracleSql` in DuckDB over the same
tables with the repository's `tools/diffcheck.py` and prints its
verdict. When every query matches, copy `<scratch-dir>/pins.tsv` into
`perfbench/src/main/resources/perfbench/mix_pins.tsv`.
"""
import glob
import os
import shutil
import subprocess
import sys


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    out = os.path.abspath(sys.argv[1])
    shutil.rmtree(out, ignore_errors=True)
    subprocess.run([sys.executable, "perfbench/run.py", "--workload", "query_mix",
                    "--seed", "1", "--seconds", "1", "--trace", "0", "--dump", out], check=True)
    # diffcheck.py reads one parquet file per table
    flat = os.path.join(out, "tables")
    os.makedirs(flat)
    for d in glob.glob(os.path.join(out, "sf", "*.parquet")):
        parts = glob.glob(os.path.join(d, "part-*.parquet"))
        if len(parts) != 1:
            sys.exit(f"expected one data file in {d}, found {len(parts)}")
        shutil.copy(parts[0], os.path.join(flat, os.path.basename(d)))
    subprocess.run([sys.executable, "tools/diffcheck.py", flat, out], check=True)
    print(open(os.path.join(out, "pins.tsv")).read(), end="")


if __name__ == "__main__":
    main()
