"""A snapshot's live set is stored as manifest refs plus legacy
``inline_files``; only ``LakeTable.commit`` and the snapshot loader should
know that.  Every other caller names what it adds and lets a delta commit
inherit the parent's live set, so a caller can never drop the table by
forgetting to carry it.  The two exceptions split the live set on purpose:
dynamic partition replace and the copy-on-write merge decide per entry
what survives."""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "dlt_iceberg_spark"
ALLOWED = {
    ("lake/table.py", None),
    ("lake/writer.py", "_replace_partitions"),
    ("lake/writer.py", "_merge"),
}


def _inline_files_reads():
    out = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        funcs = [
            n for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "inline_files":
                owner = [
                    f.name for f in funcs
                    if f.lineno <= node.lineno <= f.end_lineno
                ]
                out.append((rel, owner[-1] if owner else None, node.lineno))
    return out


def test_inline_files_reads_stay_in_table_and_live_set_splits():
    stray = [
        f"{rel}:{line} ({func})"
        for rel, func, line in _inline_files_reads()
        if (rel, None) not in ALLOWED and (rel, func) not in ALLOWED
    ]
    assert stray == [], (
        "inline_files read outside lake/table.py — commit with new_files= "
        "only and let the snapshot inherit the parent's live set: "
        + ", ".join(stray)
    )
