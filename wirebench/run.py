#!/usr/bin/env python3
"""Wire-level gateway benchmark.

    python3 wirebench/run.py --workload <interactive|extract|analytic|rest_trino> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (see build.py), then
runs one workload in one JVM: the graft engine served through its
Thrift and REST/Trino frontends on loopback, driven by a seeded load
generator. The last stdout line is the result object; the line before
it is the run's provenance. Exits non-zero, without a result, when the
build or the run fails, and with code 1 after a result whose outputs
were wrong.
"""

import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # write nothing beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["interactive", "extract", "analytic", "rest_trino"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    cp = build.build()
    scratch = os.path.join(build.OUT, f"run-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    cmd = build.java_cmd(cp, "wirebench.Main",
                         ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", a.trace],
                         ["-Djava.io.tmpdir=" + os.path.join(scratch, "tmp"),
                          "-Dwirebench.dir=" + scratch,
                          "-Dwirebench.commit=" + build.source_id()])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=scratch)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"wirebench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if proc.returncode not in (0, 1) or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out)
        print(f"wirebench: run failed (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 4
    print("\n".join(lines))
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
