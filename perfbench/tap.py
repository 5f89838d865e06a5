"""A deterministic Singer tap for the benchmark.

    python3 perfbench/tap.py --seed N --records R --ids K [--state FILE]

Prints one SCHEMA message for the ``docs`` stream, then one portion: ``R``
RECORD messages (see :func:`gen.singer_portion`) closed by a STATE message
``{"bookmark": <next portion>}``. With ``--state`` it starts at the
bookmark, so each run emits the next portion.
"""

import argparse
import json
import sys

import gen


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--records", type=int, required=True)
    ap.add_argument("--ids", type=int, required=True)
    ap.add_argument("--state", default=None)
    a = ap.parse_args(argv)
    start = 0
    if a.state:
        with open(a.state) as f:
            start = json.load(f)["bookmark"]
    out = sys.stdout
    out.write(json.dumps({"type": "SCHEMA", "stream": gen.TAP_STREAM,
                          "schema": gen.TAP_SCHEMA, "key_properties": ["id"]}) + "\n")
    for line in gen.tap_portion_lines(a.seed, start, a.records, a.ids):
        out.write(line + "\n")
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
