#!/usr/bin/env python3
"""Per-suite wall time of the last `sbt test` run.

Reads the JUnit XML reports sbt writes for every suite
(`target/test-reports/TEST-*.xml`) and prints one line per suite, slowest
first: seconds, tests, failures, errors and the suite name, then the totals.

    python3 scripts/suite_times.py                 # target/test-reports
    python3 scripts/suite_times.py path/to/reports
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def read_suites(report_dir):
    suites = []
    for path in glob.glob(os.path.join(report_dir, "TEST-*.xml")):
        root = ET.parse(path).getroot()
        # a report holds one <testsuite>, possibly under <testsuites>
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            suites.append((
                float(s.get("time", 0)),
                int(s.get("tests", 0)),
                int(s.get("failures", 0)),
                int(s.get("errors", 0)),
                s.get("name", os.path.basename(path)),
            ))
    return sorted(suites, key=lambda s: (-s[0], s[4]))


def main(argv):
    report_dir = argv[1] if len(argv) > 1 else "target/test-reports"
    suites = read_suites(report_dir)
    if not suites:
        sys.exit(f"no TEST-*.xml reports under {report_dir}")
    print(f"{'seconds':>9} {'tests':>6} {'fail':>5} {'err':>5}  suite")
    for t, n, f, e, name in suites:
        print(f"{t:9.1f} {n:6d} {f:5d} {e:5d}  {name}")
    total = [sum(s[i] for s in suites) for i in range(4)]
    print(f"{total[0]:9.1f} {total[1]:6d} {total[2]:5d} {total[3]:5d}  "
          f"total over {len(suites)} suites")


if __name__ == "__main__":
    main(sys.argv)
