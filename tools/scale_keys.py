#!/usr/bin/env python3
"""Key-path and non-timing value diff of two scale artifacts.

Usage:
    python3 tools/scale_keys.py A.json B.json [--ignore PATH ...]

Key paths recurse into objects; an array contributes the union of its
elements' key paths under `name[]`. Values are compared at every leaf
except the timing ones: a key named `value` or `op_sec`, a key ending in
`sec`, and anything under a `memory` key. Array elements are compared by
position, so a leaf path prints as `epochs[2].rows_written`; an
`--ignore` path names a leaf or a subtree with `[]` for any index
(`materializers.cdc_ivm_e2e.epochs[].rows`), for fields that differ
between two runs of the same commit.
Prints one line per difference and exits 1 when there is any.
"""
import argparse
import json
import sys


def key_paths(node, prefix=""):
    """Every key path of `node`, array indices folded to `[]`."""
    out = set()
    if isinstance(node, dict):
        for k, v in node.items():
            p = f"{prefix}.{k}" if prefix else k
            out.add(p)
            out |= key_paths(v, p)
    elif isinstance(node, list):
        for v in node:
            out |= key_paths(v, prefix + "[]")
    return out


def timing(key):
    return key in ("value", "op_sec", "memory") or key.endswith("sec")


def leaves(node, prefix=""):
    """(path, value) of every non-timing leaf; arrays indexed."""
    if isinstance(node, dict):
        for k, v in node.items():
            if not timing(k):
                yield from leaves(v, f"{prefix}.{k}" if prefix else k)
    elif isinstance(node, list):
        if node and all(not isinstance(v, (dict, list)) for v in node):
            yield prefix, node  # a list of scalars is one value
        else:
            for i, v in enumerate(node):
                yield from leaves(v, f"{prefix}[{i}]")
    else:
        yield prefix, node


def folded(path):
    """`path` with every array index written as `[]`."""
    out, i = [], 0
    while i < len(path):
        if path[i] == "[":
            j = path.index("]", i)
            out.append("[]")
            i = j + 1
        else:
            out.append(path[i])
            i += 1
    return "".join(out)


def ignored(path, ignores):
    f = folded(path)
    return any(f == g or f.startswith(g + ".") or f.startswith(g + "[")
               for g in ignores)


def diff(a, b, ignores=()):
    """The difference lines between documents `a` and `b`."""
    lines = []
    ka, kb = key_paths(a), key_paths(b)
    lines += [f"key only in A: {p}" for p in sorted(ka - kb) if not ignored(p, ignores)]
    lines += [f"key only in B: {p}" for p in sorted(kb - ka) if not ignored(p, ignores)]
    va, vb = dict(leaves(a)), dict(leaves(b))
    for p in sorted(va.keys() & vb.keys()):
        if va[p] != vb[p] and not ignored(p, ignores):
            lines.append(f"value {p}: {json.dumps(va[p])} != {json.dumps(vb[p])}")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--ignore", action="append", default=[],
                    help="a leaf or subtree path to leave out (repeatable)")
    args = ap.parse_args()
    with open(args.a) as fa, open(args.b) as fb:
        lines = diff(json.load(fa), json.load(fb), args.ignore)
    for line in lines:
        print(line)
    print(f"{len(lines)} difference(s)", file=sys.stderr)
    sys.exit(1 if lines else 0)


if __name__ == "__main__":
    main()
