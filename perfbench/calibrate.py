"""Compares the pipeline workload's generated tables with census tables.

    python3 perfbench/calibrate.py <census dir> <scale factor>

<census dir> holds documents.parquet, events.parquet and lineitem.parquet
at <scale factor> (0.1 = 5,000 documents). Prints each table's row count
and each pipeline entry's output rows and warm run time on the census
tables and on tables generated at the same scale (README, "Pipeline
data"). Builds first, like run.py.
"""
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    census = os.path.abspath(sys.argv[1])
    cp = build.classpath(build.build())
    scratch = run.new_scratch()
    try:
        return subprocess.run(run.java_cmd(cp, scratch, "perfbench.Calibrate", [
            census, sys.argv[2], str(run.cores()), scratch])).returncode
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
