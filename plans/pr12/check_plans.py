#!/usr/bin/env python3
"""Compare two `explain("formatted")` dumps up to the band-guard Filters.

    python3 plans/pr12/check_plans.py BEFORE AFTER

Both plans are normalized (run-specific tokens as in plans/pr11, plus
operator ids, codegen ids and call-site line numbers), parsed into
operator trees and compared node by node. On the BEFORE side every
band-guard conjunct (`sig_0 <> Long.MaxValue`, `n2 > 0`) is removed from
each Filter condition and a Filter left with no condition is spliced
out. Exit 0 and print `same` when the trees are then equal; otherwise
print the first difference and exit 1.
"""

import re
import sys

TOKENS = [
    (r"#[0-9]+L?", "#N"),
    (r"plan_id=[0-9]+", "plan_id=N"),
    (r"graft_(bkt|chn)_[0-9a-f]{16}", r"graft_\1_H"),
    (r"(graft_[a-z0-9_]+_)[0-9a-f]{12}_p([0-9]+|P)", r"\1H_pP"),
    (r"([A-Za-z0-9_$])@[0-9a-f]+\b", r"\1@H"),
    (r"(at [A-Za-z]+\.scala):[0-9]+", r"\1:L"),
    (r"\[codegen id : [0-9]+\]", "[codegen]"),
    (r"Reuses operator id: [0-9]+", "Reuses operator id: K"),
]
GUARDS = [r"isnotnull\(sig_0#N\) AND NOT \(sig_0#N = 9223372036854775807\)",
          r"isnotnull\(n2#N\) AND \(n2#N > 0\.0\)"]


def norm(text):
    for pat, rep in TOKENS:
        text = re.sub(pat, rep, text)
    return text


def condition(c, strip_guard):
    if strip_guard:
        for g in GUARDS:
            c = re.sub(g, "", c)
    c = re.sub(r"\s+", " ", c.replace("(", "").replace(")", ""))
    c = re.sub(r"^( ?AND )+| AND ?$", "", c.strip())
    return re.sub(r"( AND )+", " AND ", c).strip()


def parse(path, strip_guard):
    lines = norm(open(path).read()).split("\n")
    i, tree = 1, []
    while lines[i].strip():
        tree.append(lines[i])
        i += 1
    details, cur = {}, None
    for l in lines[i:]:
        m = re.match(r"^\(([0-9]+)\) ", l)
        if m:
            cur = m.group(1)
            details[cur] = [l[m.end():]]
        elif cur is not None and l.strip():
            details[cur].append(l)
    root, stack = None, []
    for l in tree:
        m = re.search(r"[A-Za-z][^()]*\(([0-9]+)\)", l)
        marks = [l.rfind("+- "), l.rfind(":- ")]
        depth = max(marks) // 3 + 1 if max(marks) >= 0 else 0
        node = {"id": m.group(1), "children": []}
        del stack[depth:]
        if stack:
            stack[-1]["children"].append(node)
        else:
            root = node
        stack.append(node)

    def canon(n):
        body = []
        for d in details[n["id"]]:
            if d.startswith("Condition : "):
                c = condition(d[len("Condition : "):], strip_guard)
                if not c and details[n["id"]][0].startswith("Filter"):
                    return canon(n["children"][0])
                d = "Condition : " + c
            body.append(d)
        return (tuple(body), tuple(canon(c) for c in n["children"]))

    return canon(root)


def first_diff(a, b, path="root"):
    if a[0] != b[0]:
        return f"{path}: {a[0][0]} != {b[0][0]}"
    if len(a[1]) != len(b[1]):
        return f"{path} ({a[0][0]}): {len(a[1])} vs {len(b[1])} children"
    for k, (x, y) in enumerate(zip(a[1], b[1])):
        d = first_diff(x, y, f"{path}/{k}")
        if d:
            return d
    return None


if __name__ == "__main__":
    d = first_diff(parse(sys.argv[1], True), parse(sys.argv[2], False))
    print(d or "same")
    sys.exit(1 if d else 0)
