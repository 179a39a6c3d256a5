#!/usr/bin/env python3
"""Re-measures calibration/analytics_sf0.1_warm.tsv, the per-query cold and
warm times analytics_suite draws its sample from (see Calibrate.scala).

    python3 perfbench/calibrate.py "<header line>"...

Run from the root of a graft checkout, alone on the machine; it takes
several minutes. The header lines (say which machine and source tree) go
to the top of the file. Replacing the file changes the analytics_suite
workload.
"""

import os
import subprocess
import sys

import run


def main():
    cp = run.classpath()
    work = os.path.join(run.STATE, "calibrate")
    os.makedirs(work, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in run.ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xmx" + run.JVM_HEAP, "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + work,
            "-cp", cp, "perfbench.Calibrate", run.DATA, run.CALIBRATION] + sys.argv[1:]
    sys.exit(subprocess.call(cmd, cwd=work))


if __name__ == "__main__":
    main()
