"""Source-hygiene gates that don't need Spark.

1. No module-level shadowed re-definitions anywhere in the package (a
   verbatim double-paste of ``length_outlier_filter`` shipped in round 4;
   this test makes that class of slip impossible to re-introduce).
2. Every oracle in ``__spark_entry__.oracle_sql()`` emits only
   Arrow types that hash identically to the Spark side under the driver's
   Arrow-fetch comparison (no decimal128 from an uncast ``SUM(INT)``,
   no float32, ...). Round 4's only red driver rows were exactly this.
3. One data-file writer: ``table/writer.py:write_files`` is the only
   function that chains a DataFrame ``.write`` into ``.parquet(``; every
   other such site writes something that is not table data and is
   allowlisted below by name, with its reason.
"""

from __future__ import annotations

import ast
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parents[1] / "e_commerce_lakehouse_spark"

_ALLOWED_ARROW_TYPE = re.compile(
    r"^(int8|int16|int32|int64|double|string|large_string|bool|null"
    r"|timestamp\[.*\]|date32\[day\])$"
)


def test_no_shadowed_module_level_definitions():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        seen: dict[str, int] = {}
        for node in tree.body:  # module level only — nested defs may repeat
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if node.name in seen:
                    offenders.append(
                        f"{path.relative_to(PKG.parent)}:{node.lineno} "
                        f"re-defines {node.name!r} (first at :{seen[node.name]})"
                    )
                seen[node.name] = node.lineno
    assert not offenders, "shadowed re-definitions:\n" + "\n".join(offenders)


#: the one Spark data-file write site
_DATA_WRITER = ("table/writer.py", "write_files")

#: Spark parquet writes that are not table data files, by (module,
#: enclosing function)
_NON_DATA_PARQUET_WRITES = {
    ("operators/rowlevel.py", "_commit_key_tombstones"):
        "merge-on-read delete tombstone: a key list, not table rows",
    ("operators/rowlevel.py", "_update_merge_on_read"):
        "merge-on-read update tombstone: a key list, not table rows",
    ("operators/cluster.py", "_cluster_sharded"):
        "stage-1 temp copy: re-read by stage 2, deleted after it",
    ("operators/etl.py", "write_rejected"):
        "etl rejects: an audit sink outside the table",
    ("table/writer.py", "write_with_parquet_fallback"):
        "non-ACID fallback sink, written beside the table on purpose",
    ("queries.py", "q61_exactly_once_ingest"):
        "stages the landing-zone input files the ingest reads",
    ("queries.py", "q100_copy_into"):
        "stages the landing-zone input files copy_into loads",
}


def _chain_has_write(node) -> bool:
    """True if a call/attribute chain passes through a ``.write``."""
    while isinstance(node, (ast.Call, ast.Attribute, ast.Subscript)):
        if isinstance(node, ast.Attribute) and node.attr == "write":
            return True
        node = node.func if isinstance(node, ast.Call) else node.value
    return False


def _chain_root(node):
    while isinstance(node, (ast.Call, ast.Attribute, ast.Subscript)):
        node = node.func if isinstance(node, ast.Call) else node.value
    return node.id if isinstance(node, ast.Name) else None


def _parquet_write_sites(tree) -> list[tuple[str, int]]:
    """(enclosing function, line) of every ``.parquet(`` call fed by a
    DataFrame ``.write`` chain, directly or through a local variable
    (``w = df.write...; w.parquet(out)``)."""
    sites = []

    def visit(fn):
        writers = {
            t.id
            for n in ast.walk(fn) if isinstance(n, ast.Assign)
            and _chain_has_write(n.value)
            for t in n.targets if isinstance(t, ast.Name)
        }
        for n in ast.walk(fn):
            if (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "parquet"
                    and (_chain_has_write(n.func.value)
                         or _chain_root(n.func.value) in writers)):
                sites.append((fn.name, n.lineno))

    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            visit(node)
        elif isinstance(node, ast.ClassDef):
            for m in node.body:
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    visit(m)
    return sites


def test_one_spark_data_file_writer():
    found: dict[tuple[str, str], list[int]] = {}
    for path in sorted(PKG.rglob("*.py")):
        mod = path.relative_to(PKG).as_posix()
        for fn, line in _parquet_write_sites(ast.parse(path.read_text())):
            found.setdefault((mod, fn), []).append(line)
    assert len(found.get(_DATA_WRITER, [])) == 1, found.get(_DATA_WRITER)
    stray = {k: v for k, v in found.items()
             if k != _DATA_WRITER and k not in _NON_DATA_PARQUET_WRITES}
    assert not stray, (
        "Spark parquet writes outside table/writer.py:write_files — route "
        f"data files through write_files: {stray}"
    )
    stale = sorted(set(_NON_DATA_PARQUET_WRITES) - set(found))
    assert not stale, f"allowlisted writes that no longer exist: {stale}"


def test_oracle_output_types_in_allowlist(tmp_path):
    import sys

    import duckdb

    sys.path.insert(0, str(PKG.parent))
    import __spark_entry__ as entrymod

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    tables = (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = []
    for name, sql in sorted(entrymod.oracle_sql().items()):
        # LIMIT 0 via prepared relation would change semantics for some
        # queries; run at sf0.001 (tiny) and inspect only the schema.
        try:
            tb = con.execute(sql).arrow()
        except Exception as e:  # oracle must at least run on the tiny SF
            bad.append(f"{name}: oracle errored at sf0.001: {str(e)[:120]}")
            continue
        for f in tb.schema:
            if not _ALLOWED_ARROW_TYPE.match(str(f.type)):
                bad.append(f"{name}.{f.name}: {f.type}")
    assert not bad, "oracle output types outside allowlist:\n" + "\n".join(bad)
