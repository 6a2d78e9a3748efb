#!/usr/bin/env python3
"""Pins the build_cold counts: runs every query of `gen.BUILD_SET` cold and
warm on the benchmark corpus and writes their counts to `expected.json`.

    python3 perfbench/pin.py

Run from the repository root after a change that legitimately changes a
pinned query's result; review the diff of `expected.json`. The per-query
cold and warm wall, cold-call jobs and operator attribution go to stderr.
"""

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def main():
    classpath, _ = run.build()
    work = os.path.join(run.BUILD_DIR, f"pin-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        corpus = os.path.join(work, "corpus")
        gen.write_corpus(corpus, run.CORPUS_SF)
        out = os.path.join(work, "expected.json")
        log = os.path.join(run.BUILD_DIR, "pin.log")
        code = run.run_jvm(classpath, run.heap_flags(), ["pin", corpus, out] + gen.BUILD_SET,
                           work, log, timeout=1800)
        with open(log) as f:
            sys.stderr.writelines(l for l in f if l.startswith("[pin]"))
        if code != 0 or not os.path.isfile(out):
            run.fail(f"pin failed (exit {code}); see {os.path.relpath(log, run.ROOT)}")
        shutil.copyfile(out, os.path.join(HERE, "expected.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
