#!/bin/bash
# Order-balanced A/B of one perfbench workload between two checkouts.
#
# Usage: tools/abba_bench.sh PARENT_DIR CHANGE_DIR WORKLOAD PAIRS OUT.jsonl
#
# Pair i (seed i, 1..PAIRS) runs
#   python3 perfbench/run.py --workload WORKLOAD --seed i --seconds 18 --trace 0
# once in each checkout, the parent first on odd pairs and the change
# first on even ones, so a host drifting over the runs biases
# neither side. Every run appends one JSON line to OUT.jsonl:
#   {"pair", "seed", "side", "slot", "steal_s", "result"}
# (slot 0 = ran first in its pair; steal_s = the CPU steal the host
# reported during the timed section; result = run.py's last line).
# At the end it prints, per end-to-end metric: each side's median and
# quartiles, and in how many pairs each side was better (direction
# from CHANGE_DIR/BENCHMARK.json), then each pair's op_p50_s,
# peak_rss_mb and steal.
set -u
if [ $# -ne 5 ]; then
  echo "usage: $0 PARENT_DIR CHANGE_DIR WORKLOAD PAIRS OUT.jsonl" >&2
  exit 2
fi
PARENT=$(realpath "$1")
CHANGE=$(realpath "$2")
WL=$3
PAIRS=$4
OUT=$(realpath "$5")
: > "$OUT"

run() {  # $1 = side, $2 = dir, $3 = pair, $4 = slot
  local log
  log=$(cd "$2" && timeout 900 python3 perfbench/run.py --workload "$WL" \
    --seed "$3" --seconds 18 --trace 0 2>/dev/null)
  local facts res
  facts=$(printf '%s\n' "$log" | sed -n 's/^# facts //p' | tail -1)
  res=$(printf '%s\n' "$log" | tail -1)
  python3 - "$1" "$3" "$4" "$facts" "$res" >> "$OUT" <<'EOF'
import json, sys
side, pair, slot, facts, res = sys.argv[1:]
try:
    steal = json.loads(facts).get("timed_cpu_steal_s")
except ValueError:
    steal = None
try:
    result = json.loads(res)
except ValueError:
    result = {"correct": False, "error": res[-300:]}
print(json.dumps({"pair": int(pair), "seed": int(pair), "side": side,
                  "slot": int(slot), "steal_s": steal, "result": result}))
EOF
}

for i in $(seq 1 "$PAIRS"); do
  if [ $((i % 2)) -eq 1 ]; then
    run parent "$PARENT" "$i" 0; run change "$CHANGE" "$i" 1
  else
    run change "$CHANGE" "$i" 0; run parent "$PARENT" "$i" 1
  fi
done

python3 - "$OUT" "$CHANGE/BENCHMARK.json" <<'EOF'
import json, statistics, sys
rows = [json.loads(l) for l in open(sys.argv[1])]
better = {m["name"]: m["better"] for m in json.load(open(sys.argv[2]))["end_to_end"]}
runs = {(r["pair"], r["side"]): r for r in rows}
pairs = sorted({r["pair"] for r in rows})

def value(pair, side, name):
    r = runs.get((pair, side))
    if not r or not r["result"].get("correct"):
        return None
    return r["result"]["metrics"][name]["value"]

def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (None,) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

bad = [f"{r['side']}#{r['pair']}" for r in rows if not r["result"].get("correct")]
print(f"{len(pairs)} pairs; incorrect or failed runs: {bad or 'none'}")
print(f"{'metric':<12} {'parent q1/med/q3':>26} {'change q1/med/q3':>26}  wins p/c")
for name, way in better.items():
    both = [(value(p, "parent", name), value(p, "change", name)) for p in pairs]
    both = [(a, b) for a, b in both if a is not None and b is not None]
    if not both:
        continue
    qa = quartiles([a for a, _ in both])
    qb = quartiles([b for _, b in both])
    cw = sum((b < a) if way == "lower" else (b > a) for a, b in both)
    pw = sum((a < b) if way == "lower" else (a > b) for a, b in both)
    fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
    print(f"{name:<12} {fmt(qa):>26} {fmt(qb):>26}  {pw}/{cw}")
print("pair first   op_p50_s p/c    peak_rss_mb p/c   steal_s p/c")
g = lambda x: "-" if x is None else f"{x:.4g}"
for p in pairs:
    first = "parent" if runs.get((p, "parent"), {}).get("slot") == 0 else "change"
    cols = [value(p, s, m) for m in ("op_p50_s", "peak_rss_mb") for s in ("parent", "change")]
    cols += [runs.get((p, s), {}).get("steal_s") for s in ("parent", "change")]
    print(f"{p:>4} {first:<6} " + "  ".join(f"{g(a):>7} {g(b):>7}" for a, b in zip(cols[::2], cols[1::2])))
EOF
