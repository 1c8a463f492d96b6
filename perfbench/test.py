#!/usr/bin/env python3
"""The benchmark's own tests. Run from the root of a checkout:

    python3 perfbench/test.py

Compiles and runs graftbench.SelfTest (generators, mock LLM, arithmetic),
then checks that the benchmark refuses to run, without printing a result,
in a directory that holds only BENCHMARK.json and the benchmark's files.
"""
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def self_test():
    classpath = run.build()
    test_src = run.sources(os.path.join(run.HERE, "test"))
    out = run.compile_scala("test", test_src, os.pathsep.join(classpath),
                            run.digest(test_src, "".join(classpath)))
    r = subprocess.run(["java", "-cp", os.pathsep.join([out] + classpath),
                        "graftbench.SelfTest"], env=dict(os.environ, LANG="C.UTF-8"))
    return r.returncode == 0


def refuses_without_program():
    """A directory with only BENCHMARK.json and perfbench/ must fail fast."""
    bare = os.path.join(run.WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(run.HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".build", ".work", "__pycache__"))
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), bare)
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "school_scale",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    ok = r.returncode != 0 and '"correct"' not in r.stdout
    print("%s  refuses to run without the program (exit %d)" % ("ok" if ok else "FAIL",
                                                                  r.returncode))
    return ok


if __name__ == "__main__":
    results = [self_test(), refuses_without_program()]
    sys.exit(0 if all(results) else 1)
