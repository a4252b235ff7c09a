# Summarise the subset A/B: python3 summarize.py <dir holding parent/ and change/>.
# Pair 0 (a parent-only warm-up run) is left out of the statistics.
import json, glob, re, statistics, sys
base = sys.argv[1]
def load(side):
    out = {}
    for f in glob.glob(f"{base}/{side}/pair*.json"):
        p = int(re.search(r"pair(\d+)", f).group(1))
        if p == 0: continue
        out[p] = json.load(open(f))
    return out
par, chg = load("parent"), load("change")
pairs = sorted(set(par) & set(chg))
def q(xs, f):
    xs = sorted(xs); n = len(xs)
    # linear interpolation quartiles
    pos = (n - 1) * f; lo = int(pos); hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
names = sorted(par[pairs[0]]["queries"]) + ["TOTAL"]
def val(rec, n): return rec["value"] if n == "TOTAL" else rec["queries"][n]
print(f"pairs: {len(pairs)} ({pairs[0]}-{pairs[-1]}); errors parent {sum(len(par[p]['errors']) for p in pairs)}, change {sum(len(chg[p]['errors']) for p in pairs)}\n")
print("| query | parent median [q1, q3] s | change median [q1, q3] s | change faster | change/parent | parent IQR s | change slower than parent by more than parent IQR? |")
print("|---|---|---|---|---|---|---|")
for n in names:
    a = [val(par[p], n) for p in pairs]; b = [val(chg[p], n) for p in pairs]
    ma, mb = statistics.median(a), statistics.median(b)
    iqr = q(a, .75) - q(a, .25)
    better = sum(1 for p in pairs if val(chg[p], n) < val(par[p], n))
    slower = mb - ma
    verdict = "no (faster)" if slower < 0 else ("no" if slower <= iqr else "YES")
    print(f"| {n} | {ma:.3f} [{q(a,.25):.3f}, {q(a,.75):.3f}] | {mb:.3f} [{q(b,.25):.3f}, {q(b,.75):.3f}] | {better}/{len(pairs)} | {mb/ma:.3f} | {iqr:.3f} | {verdict} |")
