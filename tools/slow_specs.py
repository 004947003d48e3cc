#!/usr/bin/env python3
"""Print the ten slowest specs of the last test run and the suite total.

Usage: python3 tools/slow_specs.py [reportDir] [spec ...]

Reads the JUnit XML files sbt writes to target/test-reports (or
reportDir) and prints one line per spec: wall seconds, test counts
(tests / failed+errored / skipped) and the spec name, slowest first,
then the summed wall time over every spec. Naming specs after the
directory prints those specs instead of the top ten, plus their sum.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def load(report_dir):
    specs = []
    for path in glob.glob(os.path.join(report_dir, "TEST-*.xml")):
        root = ET.parse(path).getroot()
        suites = [root] if root.tag == "testsuite" else root.iter("testsuite")
        for s in suites:
            specs.append((float(s.get("time", 0)), s.get("name"),
                          int(s.get("tests", 0)),
                          int(s.get("failures", 0)) + int(s.get("errors", 0)),
                          int(s.get("skipped", 0))))
    return specs


def main(argv):
    report_dir = argv[1] if len(argv) > 1 else "target/test-reports"
    wanted = argv[2:]
    specs = sorted(load(report_dir), reverse=True)
    if not specs:
        sys.exit(f"no TEST-*.xml under {report_dir}")
    if wanted:
        shown = [s for s in specs if s[1].split(".")[-1] in wanted or s[1] in wanted]
        label = "selected"
    else:
        shown = specs[:10]
        label = "slowest 10"
    for t, name, n, bad, skipped in shown:
        print(f"{t:9.1f} s  {n:4d} tests {bad:3d} failed {skipped:3d} skipped  {name}")
    print(f"{sum(s[0] for s in shown):9.1f} s  {label}")
    print(f"{sum(s[0] for s in specs):9.1f} s  suite total over {len(specs)} specs, "
          f"{sum(s[2] for s in specs)} tests, {sum(s[3] for s in specs)} failed, "
          f"{sum(s[4] for s in specs)} skipped")


if __name__ == "__main__":
    main(sys.argv)
