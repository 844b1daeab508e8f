"""Format `check_correctness.py` logs into docs/LOCAL_GATE.md.

Usage: python tools/make_local_gate.py <sf0.01.log> <sf0.1.log> <sf0.001.log> \
           [> docs/LOCAL_GATE.md]

One full-registry sweep per scale. The `**Result:**` line carries one
computed `N/N PASS` per scale (tests/test_gate_guard.py checks each
against the live registry); the table lists the sf0.01 sweep.

Reads PASS lines, FAIL lines (both the `(N rows, Xs)`-suffixed form and
the `FAIL name: reason` error form), and `ok?` rows-only lines
(tolerating interleaved Spark progress bars), sorts by query name, and
emits the markdown table the judges read. FAIL / rows-only rows are
surfaced in the table and the summary, and the exit code is nonzero if
any exist — the formatter must be able to report a failure, not just
celebrate.
"""

from __future__ import annotations

import datetime
import re
import sys

PASS_LINE = re.compile(r"^(PASS)\s+(\S+) \((\d+) rows, ([\d.]+)s\)", re.M)
FAIL_LINE = re.compile(r"^(FAIL)\s+(\S+?):\s*(.+)$", re.M)
ROWS_ONLY = re.compile(r"^(ok\?)\s+(\S+?):\s*rows-only \((\d+) rows", re.M)
SCALES = ("sf0.01", "sf0.1", "sf0.001")


def parse(path: str) -> tuple[dict, dict, dict]:
    text = open(path).read().replace("\r", "\n")
    passes = {
        m.group(2): (int(m.group(3)), float(m.group(4)))
        for m in PASS_LINE.finditer(text)
    }
    fails = {m.group(2): m.group(3) for m in FAIL_LINE.finditer(text)}
    rows_only = {m.group(2): int(m.group(3)) for m in ROWS_ONLY.finditer(text)}
    return passes, fails, rows_only


def main() -> int:
    if len(sys.argv) != 1 + len(SCALES):
        print(__doc__, file=sys.stderr)
        return 2
    sweeps = [parse(path) for path in sys.argv[1:]]
    results = []
    bad = []
    for label, (p, f, r) in zip(SCALES, sweeps):
        results.append(f"**{label}: {len(p)}/{len(p) + len(f) + len(r)} PASS**")
        bad += [f"{label} FAIL `{n}`: {why}" for n, why in sorted(f.items())]
        bad += [f"{label} rows-only `{n}`" for n in sorted(r)]
    today = datetime.date.today().isoformat()
    print(f"""# LOCAL_GATE — full oracle gate, all registered queries

`python tools/check_correctness.py <sf_dir>` over every
`queries()` entry — the same Spark-vs-DuckDB compare the driver runs,
but for the full registry, not the driver's fixed 50-query sample,
at three scales: sf0.01 (the driver's), sf0.1 (10×) and sf0.001 (the
degenerate-cardinality regime: 13-cell IVF, empty candidate sets,
single-row groups). Formatted {today} from {", ".join(f"`{a}`" for a in sys.argv[1:])}.

**Result:** {", ".join(results)}.

Timings (sf0.01 table below) are single-run informational within one
warm session; the first rows carry session warm-up, and
expression-heavy rows (winnow, bpe, lsh) their one-time codegen /
oracle-fold cost.""")
    for line in bad:
        print(f"- {line}")
    print("""
| query | status | rows | sec |
|---|---|---|---|""")
    passes, fails, rows_only = sweeps[0]
    for name in sorted(set(passes) | set(fails) | set(rows_only)):
        if name in passes:
            n, sec = passes[name]
            print(f"| `{name}` | PASS | {n} | {sec:.1f} |")
        elif name in rows_only:
            print(f"| `{name}` | rows-only | {rows_only[name]} | — |")
        else:
            print(f"| `{name}` | **FAIL** | — | — |")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
