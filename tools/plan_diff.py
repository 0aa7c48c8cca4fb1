#!/usr/bin/env python3
"""Before/after check for a refactor that must not change plans or oracles.

Usage:
  python3 tools/plan_diff.py <before.txt> <after.txt>
  python3 tools/plan_diff.py --oracle <before/oracle_sql.json> <after/oracle_sql.json>

Plan mode takes two stdout captures of `graft.Explain <q>[,<q>...] <sfDir> 0`,
splits each at the `==== <query> (` headers, and keeps every query's
formatted plan from `== Physical Plan ==` on. Ids that move between runs
or with unrelated code are replaced by placeholders before comparing:
expression ids (#123), plan_id=, RDD ids with their callsite line, JVM
identity hashes (Foo@1a2b3c, $Lambda$5669/0x...), and the numbers of
lambda variables built through the Scala functions API (`lambda x_60`,
a process-wide counter, so a lambda added to one query renames those of
every query planned after it), and the uid suffix of Pipeline
observation names (`graft_load_3_17` -> `graft_load_3_N`: one more
process-wide counter, which a Pipeline that allocates one observation
more or less moves for every Pipeline-built query planned after it; the
step name and index stay). One order is also
made canonical: the order of the distinct groups in the Expand that
Catalyst's RewriteDistinctAggregates plans for two or more distinct
aggregates over different columns (profile_stats' three
`count_distinct`s). Catalyst keeps those groups in a hash map keyed by
expression ids, so their order moves between runs of the same code. The
groups are sorted by column name, and their gid numbers and the
`<columns>, gid` lists of the operators above follow. It prints one
`identical` / `different` / `missing` line per query, a short unified
diff under each difference, and exits 1 if any query is not identical.

Oracle mode compares two `oracle_sql.json` files (written by graft.Verify)
key by key, byte for byte, and exits 1 on any difference.
"""
import difflib
import json
import re
import sys

HEADER = re.compile(r"^==== (\S+) \(")
# lines that end a plan: the next rep's timing table or sbt's own output
PLAN_END = re.compile(r"^\[(explain|info|success|warn|error)\]")
NORMALISE = [
    (re.compile(r"#[0-9]+"), "#N"),
    (re.compile(r"plan_id=[0-9]+"), "plan_id=N"),
    (re.compile(r"RDD\[[0-9]+\] at (\w+) at (\w+)\.scala:[0-9]+"),
     r"RDD[N] at \1 at \2.scala:N"),
    (re.compile(r"\$Lambda\$[0-9]+/0x[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"\blambda (\w+?)_[0-9]+\b"), r"lambda \1_N"),
    (re.compile(r"\bgraft_(\w+?_[0-9]+)_[0-9]+\b"), r"graft_\1_N"),
    (re.compile(r"(\w)@[0-9a-f]{4,8}\b"), r"\1@H"),
]
DIFF_LINES = 20


def normalise(line):
    for pattern, repl in NORMALISE:
        line = pattern.sub(repl, line)
    return line


def split_top(s):
    """Split `s` at the commas outside any bracket or parenthesis."""
    items, depth, start = [], 0, 0
    for i, c in enumerate(s):
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            items.append(s[start:i].strip())
            start = i + 1
    items.append(s[start:].strip())
    return items


EXPAND_ARGS = re.compile(r"^Arguments: \[(\[.*\])\], \[(.*)\]$")
GID = re.compile(r"^gid#N$")


def canonical_distinct_groups(lines):
    """Sort the distinct groups of every distinct-aggregate Expand by
    column name. Such an Expand outputs `c1, ..., cK, gid, ...`; its
    projection j (gid j, 1 <= j <= K) carries cj alone in the first K
    slots. Each group moves to its sorted slot and takes that slot's gid;
    the `c1, ..., cK, gid` lists (Input, Keys, Sort order, partitioning)
    and `(gid = j)` filters above it are rewritten to match."""
    lines = list(lines)
    for n, line in enumerate(lines):
        m = EXPAND_ARGS.match(line)
        if not m:
            continue
        out = split_top(m.group(2))
        k = next((i for i, c in enumerate(out) if GID.match(c)), -1)
        projs = [split_top(p.strip()[1:-1]) for p in split_top(m.group(1))]
        if k < 2 or len(projs) != k + 1:
            continue
        order = sorted(range(k), key=lambda i: out[i])
        slot = {old: new for new, old in enumerate(order)}
        new_projs = [projs[0]] + [None] * k
        for j in range(1, k + 1):
            p = projs[j]
            if len(p) != len(out) or p[k] != str(j):
                break
            q = [p[i] for i in order] + [str(slot[j - 1] + 1)] + p[k + 1:]
            new_projs[slot[j - 1] + 1] = q
        else:
            new_out = [out[i] for i in order] + out[k:]
            body = ", ".join("[" + ", ".join(p) + "]" for p in new_projs)
            lines[n] = f"Arguments: [{body}], [{', '.join(new_out)}]"
            gid = out[k]
            swaps = [(", ".join(x + suffix for x in out[:k + 1]),
                      ", ".join(x + suffix for x in new_out[:k + 1]))
                     for suffix in (" ASC NULLS FIRST", "")]
            filt = re.compile(r"\(" + re.escape(gid) + r" = (\d+)\)")

            def renumber(f, gid=gid, slot=slot, k=k):
                j = int(f.group(1))
                return f"({gid} = {slot[j - 1] + 1 if 0 < j <= k else j})"

            for i in range(n + 1, len(lines)):
                for a, b in swaps:
                    lines[i] = lines[i].replace(a, b)
                lines[i] = filt.sub(renumber, lines[i])
    return lines


def plans(path):
    """{query: [normalised plan lines]} in file order."""
    out = {}
    query, keep = None, False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                query, keep = m.group(1), False
                out[query] = []
            elif query is None:
                continue
            elif line.startswith("== Physical Plan =="):
                keep = True
                out[query].append(line)
            elif keep and PLAN_END.match(line):
                keep = False
            elif keep:
                out[query].append(normalise(line))
    for q, lines in out.items():
        while lines and not lines[-1].strip():
            lines.pop()
        out[q] = canonical_distinct_groups(lines)
    return out


def report(before, after, label):
    """Print one line per key; return the number of keys not identical."""
    bad = 0
    for key in list(before) + [k for k in after if k not in before]:
        if key not in before or key not in after:
            side = "after" if key not in after else "before"
            print(f"missing    {key} (not in {side})")
            bad += 1
        elif before[key] == after[key]:
            print(f"identical  {key}")
        else:
            print(f"different  {key}")
            bad += 1
            a, b = before[key], after[key]
            if isinstance(a, str):
                a, b = a.splitlines(), b.splitlines()
            diff = list(difflib.unified_diff(a, b, "before", "after", lineterm=""))
            for d in diff[:DIFF_LINES]:
                print(f"    {d}")
            if len(diff) > DIFF_LINES:
                print(f"    ... {len(diff) - DIFF_LINES} more diff lines")
    print(f"{label}: {len(set(before) | set(after)) - bad} identical, {bad} not")
    return bad


def main(argv):
    if len(argv) == 4 and argv[1] == "--oracle":
        with open(argv[2], encoding="utf-8") as f:
            before = json.load(f)
        with open(argv[3], encoding="utf-8") as f:
            after = json.load(f)
        return 1 if report(before, after, "oracle keys") else 0
    if len(argv) == 3:
        before, after = plans(argv[1]), plans(argv[2])
        if not before or not after:
            print("no `==== <query> (` headers found", file=sys.stderr)
            return 2
        return 1 if report(before, after, "plans") else 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv))
