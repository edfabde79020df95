#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps (graft.Verify writes one per run).

Usage: python3 tools/oracle_diff.py <parent.json> <change.json>

Lists the keys present on one side only, the keys whose SQL differs byte
for byte, and the keys that still differ after each run of whitespace
outside quoted literals is collapsed to one space (leading and trailing
whitespace dropped). Whitespace inside '...' and "..." is kept as is:
some oracles compare against literals such as '  ', where it is data.

Exits 1 when the key sets differ or any key differs after normalization,
else 0. A refactor of how oracle text is assembled should leave that
second list empty.
"""
import json
import sys


def normalize(sql):
    """Collapse whitespace runs outside quoted literals to one space."""
    out, i, n = [], 0, len(sql)
    while i < n:
        c = sql[i]
        if c in "'\"":
            # a literal runs to the next unpaired quote; '' (or "") inside
            # it is an escaped quote, not its end
            j = i + 1
            while j < n:
                if sql[j] == c:
                    if j + 1 < n and sql[j + 1] == c:
                        j += 2
                        continue
                    break
                j += 1
            out.append(sql[i:j + 1])
            i = j + 1
        elif c.isspace():
            while i < n and sql[i].isspace():
                i += 1
            out.append(" ")
        else:
            out.append(c)
            i += 1
    return "".join(out).strip()


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    with open(argv[1]) as f:
        parent = json.load(f)
    with open(argv[2]) as f:
        change = json.load(f)
    only_parent = sorted(set(parent) - set(change))
    only_change = sorted(set(change) - set(parent))
    common = sorted(set(parent) & set(change))
    byte_diff = [k for k in common if parent[k] != change[k]]
    norm_diff = [k for k in byte_diff if normalize(parent[k]) != normalize(change[k])]
    print(f"keys: {len(parent)} parent, {len(change)} change, {len(common)} common")
    for k in only_parent:
        print(f"only in parent: {k}")
    for k in only_change:
        print(f"only in change: {k}")
    print(f"byte-different: {len(byte_diff)}")
    for k in byte_diff:
        print(f"  {k}")
    print(f"different after whitespace normalization: {len(norm_diff)}")
    for k in norm_diff:
        print(f"  {k}")
    return 1 if only_parent or only_change or norm_diff else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
