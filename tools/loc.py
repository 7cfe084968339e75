#!/usr/bin/env python3
"""Print the Scala line counts of the engine, the harness and the tests.

    python3 tools/loc.py [repo_root]

The harness is the code in src/main that exists to check or feed the
engine: Queries, Oracles, Gates, Fixtures and every *Artifacts file. The
engine is the rest of src/main. Tests are src/test. A line count is the
number of newline-terminated lines, as `wc -l` counts them.
"""
import os
import sys

HARNESS = {"Queries.scala", "Oracles.scala", "Gates.scala", "Fixtures.scala"}


def lines(path):
    with open(path, "rb") as f:
        return f.read().count(b"\n")


def scala_files(root):
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".scala"):
                yield os.path.join(d, n)


def is_harness(path):
    name = os.path.basename(path)
    return name in HARNESS or name.endswith("Artifacts.scala")


def main(argv):
    repo = argv[1] if len(argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    main_files = list(scala_files(os.path.join(repo, "src", "main")))
    engine = sum(lines(f) for f in main_files if not is_harness(f))
    harness = sum(lines(f) for f in main_files if is_harness(f))
    tests = sum(lines(f) for f in scala_files(os.path.join(repo, "src", "test")))
    print(f"engine  {engine}")
    print(f"harness {harness}")
    print(f"tests   {tests}")


if __name__ == "__main__":
    main(sys.argv)
