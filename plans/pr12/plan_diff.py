"""Plan-identity diff of two `graft.Explain` dumps.

Usage: python3 plan_diff.py <parent explain> <change explain>

Normalizes both dumps, replacing what changes from run to run without
changing the plan: expression ids (`#123`), plan ids, RDD ids, call
sites, the numbers of plan nodes and codegen stages, and the numbering
of Spark's common-expression aliases. Then, per query, prints the lines
that still differ once the empty-set filters under the content-class
aggregate (`size(<shingle set>) > 0` over the scanned documents) are
taken out of both plans, with the tree drawing stripped.
"""
import difflib
import re
import sys


def normalize(text):
    text = text[text.index("\n========== "):]
    for pattern, repl, flags in [
            (r"#\d+L?", "#N", 0),
            (r"\[plan_id=\d+\]", "[plan_id=N]", 0),
            (r"\b(\w*RDD)\[\d+\]", r"\1[N]", 0),
            (r"\bat \w+\.scala:\d+", "at X", 0),
            (r" \(\d+\)", " (n)", 0),
            (r"^\(\d+\) ", "(n) ", re.M),
            (r"\[codegen id : \d+\]", "[codegen id : n]", 0),
            (r"_common_expr_\d+", "_common_expr_N", 0)]:
        text = re.sub(pattern, repl, text, flags=flags)
    parts = re.split(r"\n========== (\S+) ==========\n", text)
    return dict(zip(parts[1::2], parts[2::2]))


def without_empty_set_filters(plan):
    plan = re.sub(r"\(n\) Filter( \[codegen id : n\])?\n"
                  r"Input \[3\]: \[doc_id#N, text#N, lang#N\]\n"
                  r"Condition : \(size\([^\n]*\) > 0\)\n\n", "", plan)
    lines = [re.sub(r"^[\s:|+\-]*", "", l) for l in plan.splitlines()]
    return [l for i, l in enumerate(lines)
            if not (l in ("Filter (n)", "* Filter (n)") and i + 1 < len(lines)
                    and lines[i + 1].startswith(("Scan parquet", "* ColumnarToRow")))]


parent = normalize(open(sys.argv[1]).read())
change = normalize(open(sys.argv[2]).read())
for q in sorted(set(parent) | set(change)):
    a = without_empty_set_filters(parent.get(q, ""))
    b = without_empty_set_filters(change.get(q, ""))
    rest = [l for l in difflib.unified_diff(a, b, lineterm="", n=0)
            if l[:1] in "+-" and not l.startswith(("+++", "---"))]
    print(f"{q}: {'identical apart from the empty-set filters' if not rest else 'also differs in'}")
    for l in rest:
        print("    " + l)
