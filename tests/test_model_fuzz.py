"""Model-based lifecycle fuzzing: a random program of table operations
checked step-by-step against a pure-Python model.

The model is the ground truth a lakehouse must preserve: the CURRENT
table is a multiset of rows; maintenance ops (compact / cluster /
rewrite-manifests) must not change it; MERGE applies upserts; schema
evolution reshapes every row; rollback restores an earlier model state;
expire only forgets history. After EVERY op the real scan must equal
the model exactly — any divergence pinpoints the op and seed.
"""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import types as T

from e_commerce_lakehouse_spark.operators import (
    add_columns,
    analyze,
    cluster,
    compact,
    drop_columns,
    expire_snapshots,
    merge_into,
    rewrite_manifests,
    rollback_to,
)
from e_commerce_lakehouse_spark.operators.schema_evolution import current_schema
from e_commerce_lakehouse_spark.table import Table, scan
from e_commerce_lakehouse_spark.table.writer import append_dataframe, create_transcripts_table

_BASE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
_T0 = dt.datetime(2024, 1, 1)


def _mkrow(rng, conv, turn, extra_cols):
    row = {
        "conv_id": f"conv-{conv:06d}",
        "turn_idx": turn,
        "role": rng.choice(["user", "assistant", "tool"]),
        "text": f"text-{rng.randrange(10**9)}",
        "tool": rng.choice([None, "search", "calc"]),
        "ts": _T0 + dt.timedelta(seconds=rng.randrange(10**7)),
    }
    for name, _typ in extra_cols:
        row[name] = round(rng.random(), 6)
    return row


def _to_df(spark, rows, cols):
    fields = []
    for c in cols:
        if c == "turn_idx":
            fields.append(T.StructField(c, T.IntegerType()))
        elif c == "ts":
            fields.append(T.StructField(c, T.TimestampType()))
        elif c.startswith("extra"):
            fields.append(T.StructField(c, T.DoubleType()))
        else:
            fields.append(T.StructField(c, T.StringType()))
    data = [tuple(r.get(c) for c in cols) for r in rows]
    return spark.createDataFrame(data, T.StructType(fields))


def _assert_equal(spark, table, model_rows, cols, step):
    got = sorted(tuple(r) for r in scan(spark, table).select(*cols).collect())
    want = sorted(tuple(r.get(c) for c in cols) for r in model_rows)
    assert got == want, (
        f"step {step}: scan diverged from model "
        f"({len(got)} vs {len(want)} rows; first diff: "
        f"{next(((a, b) for a, b in zip(got, want) if a != b), 'row count')})"
    )


@pytest.mark.parametrize("seed", [7, 91, 23])
def test_random_lifecycle_program_matches_model(spark, tmp_path, seed):
    rng = random.Random(seed)
    extra_cols: list[tuple[str, str]] = []
    next_extra = [0]  # names never reused (add_columns burns dropped names)
    next_conv = [0]

    def fresh_rows(n):
        rows = []
        for _ in range(n):
            conv = next_conv[0]
            next_conv[0] += 1
            for turn in range(rng.randint(1, 4)):
                rows.append(_mkrow(rng, conv, turn, extra_cols))
        return rows

    root = str(tmp_path / f"fuzz-{seed}")
    model = fresh_rows(40)
    t = create_transcripts_table(
        spark, root, _to_df(spark, model, _BASE_COLS), rows_per_file=30, n_append_commits=2
    )
    # snapshot-id -> (rows, cols) so rollback can restore model state
    history = {t.current_snapshot_id(): ([dict(r) for r in model], list(_BASE_COLS))}
    cols = list(_BASE_COLS)

    from e_commerce_lakehouse_spark.operators.rowlevel import (
        delete_where,
        materialize_deletes,
        update_where,
    )

    ops = ["append", "compact", "cluster", "merge", "rewrite", "expire",
           "rollback", "add_col", "drop_col", "analyze",
           "delete_cow", "delete_mor", "materialize", "update", "update_mor"]
    for step in range(16):
        op = rng.choice(ops)
        if op == "append":
            rows = fresh_rows(rng.randint(2, 6))
            append_dataframe(spark, t, _to_df(spark, rows, cols))
            model = model + rows
        elif op == "compact":
            compact(spark, t, target_bytes=1 << 20)
        elif op == "cluster":
            cluster(spark, t, curve=rng.choice(["zorder", "hilbert"]),
                    target_bytes=1 << 19)
        elif op == "merge":
            victims = rng.sample(model, min(5, len(model)))
            corr = []
            seen_keys = set()
            for v in victims:
                key = (v["conv_id"], v["turn_idx"])
                if key in seen_keys:
                    continue
                seen_keys.add(key)
                c = dict(v)
                c["text"] = f"fixed-{rng.randrange(10**9)}"
                c["ts"] = v["ts"] + dt.timedelta(hours=1)
                corr.append(c)
            corr.extend(fresh_rows(2))  # inserts
            merge_into(spark, t, _to_df(spark, corr, cols))
            by_key = {(c["conv_id"], c["turn_idx"]): c for c in corr}
            model = [by_key.pop((r["conv_id"], r["turn_idx"]), r) for r in model]
            model += list(by_key.values())
        elif op == "rewrite":
            rewrite_manifests(t)
        elif op == "expire":
            expire_snapshots(t, keep_last=2)
            history = {s: v for s, v in history.items() if s in set(t.snapshot_ids())}
        elif op == "rollback":
            cands = [s for s in history if s != t.current_snapshot_id()]
            if cands:
                target = rng.choice(cands)
                rollback_to(t, target)
                rows, rb_cols = history[target]
                model = [dict(r) for r in rows]
                # schema does NOT roll back (documented) — current cols stay
                for r in model:
                    for c in cols:
                        r.setdefault(c, None)
        elif op == "add_col" and len(extra_cols) < 2:
            name = f"extra{next_extra[0]}"
            next_extra[0] += 1
            add_columns(t, [(name, "double")])
            extra_cols.append((name, "double"))
            cols.append(name)
            for r in model:
                r.setdefault(name, None)
        elif op == "drop_col" and extra_cols:
            name, _ = extra_cols.pop()
            drop_columns(t, [name])
            cols.remove(name)
            for r in model:
                r.pop(name, None)
        elif op == "delete_cow" and model:
            k = rng.randint(1, 3)
            delete_where(spark, t, f"turn_idx >= {k}")
            model = [r for r in model if r["turn_idx"] < k]
        elif op == "delete_mor" and model:
            role = rng.choice(["user", "assistant", "tool"])
            delete_where(spark, t, f"role = '{role}'", mode="merge-on-read")
            model = [r for r in model if r["role"] != role]
        elif op == "materialize":
            materialize_deletes(spark, t)  # logical no-op, physical fold
        elif op == "update" and model:
            k = rng.randint(0, 3)
            update_where(spark, t, f"turn_idx = {k}", {"text": "concat(text, '!')"})
            model = [
                {**r, "text": (r["text"] or "") + "!"} if r["turn_idx"] == k else r
                for r in model
            ]
        elif op == "update_mor" and model:
            # seq-numbered MoR UPDATE (round 4): tombstone + post-image in
            # one snapshot; model-wise identical to a cow update
            role = rng.choice(["user", "assistant", "tool"])
            update_where(spark, t, f"role = '{role}'",
                         {"text": "concat(text, '?')"}, mode="merge-on-read")
            model = [
                {**r, "text": (r["text"] or "") + "?"} if r["role"] == role else r
                for r in model
            ]
        elif op == "analyze":
            res = analyze(spark, t, columns=["conv_id"])
            assert res["rows"] == len(model)
        cols_now = current_schema(t).fieldNames()
        assert cols_now == cols, f"step {step}: schema drift {cols_now} vs {cols}"
        _assert_equal(spark, t, model, cols, f"{step}:{op}")
        if step % 4 == 0 and model:
            # dynamic-file-pruning read path must agree with the model
            # through every lifecycle state (mixed vintages, tombstones,
            # rewrites, evolved schemas)
            from e_commerce_lakehouse_spark.table.scan import scan_semi_join

            keys = {r["conv_id"] for r in rng.sample(model, min(3, len(model)))}
            keys.add(f"conv-absent-{step}")
            got = sorted(
                tuple(r)
                for r in scan_semi_join(spark, t, sorted(keys))
                .select(*cols).collect()
            )
            want = sorted(
                tuple(r.get(c) for c in cols)
                for r in model if r["conv_id"] in keys
            )
            assert got == want, f"step {step}:{op}: semi-join diverged from model"
        history[t.current_snapshot_id()] = ([dict(r) for r in model], list(cols))


@pytest.mark.parametrize("seed", [13, 59, 101])
def test_random_lifecycle_with_rename_widen_matches_model(spark, tmp_path, seed):
    """Evolution-heavy fuzz: random interleavings of RENAME and WIDEN with
    append / compact / cluster / merge / row-level ops / rollback, checked
    step-by-step against a model keyed by LOGICAL column identity (the
    test's own field ids) — scan must surface every vintage's values
    under the current physical names, types widened, across arbitrary
    histories."""
    from e_commerce_lakehouse_spark.operators.rowlevel import (
        delete_where,
        update_where,
    )
    from e_commerce_lakehouse_spark.operators.schema_evolution import (
        rename_column,
        widen_column,
    )

    rng = random.Random(seed)
    next_conv = [0]
    # logical name -> current physical name; model rows use LOGICAL keys
    phys = {c: c for c in _BASE_COLS}
    types = {"conv_id": "string", "turn_idx": "int", "role": "string",
             "text": "string", "tool": "string", "ts": "timestamp"}
    logicals = list(_BASE_COLS)
    n_renames = [0]

    def fresh_rows(n):
        rows = []
        for _ in range(n):
            conv = next_conv[0]
            next_conv[0] += 1
            for turn in range(rng.randint(1, 3)):
                r = _mkrow(rng, conv, turn, [])
                for lg in logicals:
                    if lg not in r:  # post-creation extras
                        r[lg] = (rng.randrange(100)
                                 if types[lg] in ("int", "bigint")
                                 else round(rng.random(), 6))
                rows.append(r)
        return rows

    def to_df(rows):
        tmap = {"string": T.StringType(), "int": T.IntegerType(),
                "bigint": T.LongType(), "double": T.DoubleType(),
                "timestamp": T.TimestampType()}
        fields = [T.StructField(phys[lg], tmap[types[lg]]) for lg in logicals]
        data = [tuple(r.get(lg) for lg in logicals) for r in rows]
        return spark.createDataFrame(data, T.StructType(fields))

    def check(step):
        got = sorted(
            tuple(r) for r in
            scan(spark, t).select(*[phys[lg] for lg in logicals]).collect()
        )
        want = sorted(tuple(r.get(lg) for lg in logicals) for r in model)
        assert got == want, (
            f"seed {seed} step {step}: diverged ({len(got)} vs {len(want)}; "
            f"first diff {next(((a, b) for a, b in zip(got, want) if a != b), 'count')})"
        )

    root = str(tmp_path / f"evfuzz-{seed}")
    model = fresh_rows(30)
    t = create_transcripts_table(spark, root, to_df(model), rows_per_file=25,
                                 n_append_commits=2)
    history = {t.current_snapshot_id(): [dict(r) for r in model]}
    next_extra = [0]

    ops = ["append", "compact", "cluster", "merge", "rename", "widen",
           "add_col", "delete_cow", "update", "rollback", "rewrite"]
    for step in range(14):
        op = rng.choice(ops)
        if op == "append":
            rows = fresh_rows(rng.randint(2, 5))
            append_dataframe(spark, t, to_df(rows))
            model = model + rows
        elif op == "compact":
            compact(spark, t, target_bytes=1 << 20,
                    mode=rng.choice(["arrow", "jobs"]))
        elif op == "cluster":
            cluster(spark, t, curve=rng.choice(["zorder", "hilbert"]),
                    target_bytes=1 << 19)
        elif op == "merge":
            victims, seen = [], set()
            for v in rng.sample(model, min(4, len(model))):
                key = (v["conv_id"], v["turn_idx"])
                if key in seen:
                    continue
                seen.add(key)
                c = dict(v)
                c["text"] = f"fixed-{rng.randrange(10**9)}"
                c["ts"] = v["ts"] + dt.timedelta(hours=1)
                victims.append(c)
            merge_into(spark, t, to_df(victims))
            by_key = {(c["conv_id"], c["turn_idx"]): c for c in victims}
            model = [by_key.pop((r["conv_id"], r["turn_idx"]), r) for r in model]
            model += list(by_key.values())
        elif op == "rename":
            cands = [lg for lg in logicals
                     if lg not in ("conv_id", "turn_idx", "ts")]
            lg = rng.choice(cands)
            n_renames[0] += 1
            new = f"{phys[lg]}_r{n_renames[0]}"
            rename_column(t, phys[lg], new)
            phys[lg] = new
        elif op == "widen":
            cands = [lg for lg in logicals if types[lg] == "int"
                     and lg != "turn_idx"]
            if cands:
                lg = rng.choice(cands)
                widen_column(t, phys[lg], "bigint")
                types[lg] = "bigint"
        elif op == "add_col" and next_extra[0] < 3:
            lg = f"x{next_extra[0]}"
            next_extra[0] += 1
            typ = rng.choice(["int", "double"])
            add_columns(t, [(lg, typ)])
            logicals.append(lg)
            phys[lg] = lg
            types[lg] = typ
            for r in model:
                r.setdefault(lg, None)
        elif op == "delete_cow" and model:
            k = rng.randint(1, 2)
            delete_where(spark, t, f"turn_idx >= {k}")
            model = [r for r in model if r["turn_idx"] < k]
        elif op == "update" and model:
            role_phys = phys["role"]
            text_phys = phys["text"]
            who = rng.choice(["user", "assistant", "tool"])
            update_where(spark, t, f"{role_phys} = '{who}'",
                         {text_phys: f"concat({text_phys}, '!')"},
                         mode=rng.choice(["copy-on-write", "merge-on-read"]))
            model = [
                {**r, "text": (r["text"] or "") + "!"} if r["role"] == who else r
                for r in model
            ]
        elif op == "rollback":
            cands = [s for s in history if s != t.current_snapshot_id()
                     and s in set(t.snapshot_ids())]
            if cands:
                target = rng.choice(cands)
                rollback_to(t, target)
                model = [dict(r) for r in history[target]]
                for r in model:  # columns added after that snapshot: NULL
                    for lg in logicals:
                        r.setdefault(lg, None)
        elif op == "rewrite":
            rewrite_manifests(t)
        check(f"{step}:{op}")
        history[t.current_snapshot_id()] = [dict(r) for r in model]
