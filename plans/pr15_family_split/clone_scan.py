"""Clone scan: every window of W consecutive source lines (each line
whitespace-collapsed; at least W-1 of them substantive) that occurs twice
or more across the given files. Reports lines covered per file and the
redundant-line estimate sum((copies-1) * run length) over maximal runs."""
import re, sys, collections
W = 8
def norm(l): return re.sub(r"\s+", " ", l).strip()
def subst(l):
    t = l.strip().lstrip("|").strip()
    return t not in ("", ")", "}", "})", "),", "},", "}),")
files = sys.argv[1:]
lines = {f: [norm(l) for l in open(f)] for f in files}
occ = collections.defaultdict(list)
for f, L in lines.items():
    for i in range(len(L) - W + 1):
        win = L[i:i + W]
        if sum(subst(x) for x in win) >= W - 1:
            occ[tuple(win)].append((f, i))
covered = collections.defaultdict(set)
dupwins = {k: v for k, v in occ.items() if len(v) > 1}
for k, v in dupwins.items():
    for f, i in v:
        covered[f].update(range(i, i + W))
# maximal runs: chains of consecutive duplicated windows starting positions
starts = collections.defaultdict(set)
for k, v in dupwins.items():
    for f, i in v: starts[f].add(i)
red = 0; red12 = 0
seen = set()
runs = []
for k, v in dupwins.items():
    # only count from the first window of a run (previous window at each copy not a dup with same copies)
    f0, i0 = v[0]
    prev = tuple(lines[f0][i0 - 1:i0 - 1 + W]) if i0 > 0 else None
    if prev in dupwins and len(dupwins[prev]) == len(v): continue
    # extend run
    n = 0
    while True:
        nxt = tuple(lines[f0][i0 + n + 1:i0 + n + 1 + W])
        if nxt in dupwins and len(dupwins[nxt]) == len(v): n += 1
        else: break
    length = W + n
    red += (len(v) - 1) * length
    if length >= 12: red12 += (len(v) - 1) * length
    runs.append((length, len(v), v[0][0].split('/')[-1], v[0][1] + 1, [(a.split('/')[-1], b + 1) for a, b in v]))
for f in files:
    if covered[f]: print(f"{len(covered[f]):6d}  {f}")
print("total covered", sum(len(c) for c in covered.values()), "redundant ~", red, "(runs >= 12:", red12, ")")
for r in sorted(runs, reverse=True)[:int(__import__('os').environ.get('TOP', '15'))]:
    print(r)
