#!/usr/bin/env python3
"""Per-suite wall time of a tier-1 test run, from its ScalaTest `-oD` log.

`build.sbt` passes ScalaTest `-oD`, so every test line in the log ends with
its duration, e.g. `[info] - some test (20 seconds, 494 milliseconds)`.
This script sums those durations under each suite header (`[info] FooSpec:`)
and prints one JSON object:

    {"suites": {"GraphIndexSpec": 301.2, ...},   # seconds, slowest first
     "total_s": 2361.0,
     "budget_s": 2670,
     "budget_share": 0.884}

Usage:
    python3 scripts/suite_times.py tier1.log

The sum covers test bodies only: suite set-up outside a test (a fixture
built in the class body) and JVM start-up are not in any `-oD` duration.
"""
import json
import re
import sys

BUDGET_S = 2670

SUITE = re.compile(r"^\[info\] ([A-Za-z_][\w.]*):\s*$")
TEST = re.compile(r"^\[info\] - .*\(([^()]*)\)\s*$")
PART = re.compile(r"(\d+) (hour|minute|second|millisecond)s?")
UNIT_S = {"hour": 3600.0, "minute": 60.0, "second": 1.0, "millisecond": 0.001}


def duration_s(text):
    """Seconds in a `-oD` duration like `1 minute, 2 seconds, 5 milliseconds`,
    or None when the parenthesis holds no duration."""
    parts = PART.findall(text)
    if not parts or PART.sub("", text).strip(" ,"):
        return None
    return sum(int(n) * UNIT_S[u] for n, u in parts)


def suite_times(lines):
    suites = {}
    current = None
    for line in lines:
        line = line.rstrip("\n")
        m = SUITE.match(line)
        if m:
            current = m.group(1)
            suites.setdefault(current, 0.0)
            continue
        m = TEST.match(line)
        if m and current is not None:
            d = duration_s(m.group(1))
            if d is not None:
                suites[current] += d
    return suites


def main(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        suites = suite_times(f)
    total = sum(suites.values())
    ranked = sorted(suites.items(), key=lambda kv: (-kv[1], kv[0]))
    print(json.dumps({
        "suites": {name: round(s, 3) for name, s in ranked},
        "total_s": round(total, 3),
        "budget_s": BUDGET_S,
        "budget_share": round(total / BUDGET_S, 4),
    }, indent=1))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: suite_times.py <tier1.log>")
    main(sys.argv[1])
