"""Property-based differential tests (SURVEY.md §5.4, hypothesis):
any random sequence of editor operations applied to our Spark engine
and to a pandas frame implementing the reference's v1/v2 semantics
must produce identical tables; undo must invert every operation.

Example counts are kept small — every example runs real Spark jobs.
"""

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from parquet_editor_spark.operators import edit as E

BASE = pd.DataFrame(
    {
        "i": [10, 20, 30, 40, 50],
        "f": [1.0, 2.0, 3.0, 4.0, 5.0],
        "s": ["a", "b", "c", "d", "e"],
    }
)

# an edit op is (kind, args) applied to whatever the current length is
op_strategy = st.one_of(
    st.tuples(
        st.just("set_i"), st.integers(0, 9), st.integers(-100, 100)
    ),
    st.tuples(
        st.just("set_f"), st.integers(0, 9), st.floats(-10, 10, allow_nan=False)
    ),
    st.tuples(st.just("delete"), st.integers(0, 9), st.just(0)),
    st.tuples(st.just("cutpaste"), st.integers(0, 9), st.integers(0, 9)),
)


def apply_pandas(pdf: pd.DataFrame, ops) -> pd.DataFrame:
    pdf = pdf.copy()
    for kind, a, b in ops:
        n = len(pdf)
        if n == 0:
            continue
        if kind == "set_i":
            pdf.iloc[a % n, pdf.columns.get_loc("i")] = int(b)
        elif kind == "set_f":
            pdf.iloc[a % n, pdf.columns.get_loc("f")] = float(b)
        elif kind == "delete":
            pdf = pdf.drop(pdf.index[a % n]).reset_index(drop=True)
        elif kind == "cutpaste":
            src = a % n
            clip = pdf.iloc[[src]]
            rest = pdf.drop(pdf.index[src]).reset_index(drop=True)
            pos = b % (len(rest) + 1)
            pdf = pd.concat(
                [rest.iloc[:pos], clip, rest.iloc[pos:]]
            ).reset_index(drop=True)
    return pdf


def apply_spark(sdf, ops):
    for kind, a, b in ops:
        n = sdf.count()
        if n == 0:
            continue
        if kind == "set_i":
            sdf = E.set_cell(sdf, a % n, "i", int(b))
        elif kind == "set_f":
            sdf = E.set_cell(sdf, a % n, "f", float(b))
        elif kind == "delete":
            sdf = E.delete_rows(sdf, [a % n])
        elif kind == "cutpaste":
            clip, rest = E.cut_rows(sdf, [a % n])
            sdf = E.paste_rows(rest, clip, b % (n - 1 + 1))
    return sdf


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(ops=st.lists(op_strategy, min_size=1, max_size=5))
def test_edit_sequence_matches_pandas(spark, ops):
    sdf = E.with_rid(spark.createDataFrame(BASE))
    got = (
        apply_spark(sdf, ops)
        .toPandas()
        .sort_values("__rid")
        .reset_index(drop=True)
        .drop(columns="__rid")
    )
    want = apply_pandas(BASE, ops)
    pd.testing.assert_frame_equal(got, want)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    rid=st.integers(0, 4),
    val=st.integers(-1000, 1000),
)
def test_undo_inverts_edit(spark, rid, val):
    from parquet_editor_spark.session import EditorSession

    sess = EditorSession(spark)
    sess.bind("t", E.with_rid(spark.createDataFrame(BASE)), undoable=False)
    before = E.get_cell(sess.get("t"), rid, "i")
    sess.set_cell("t", rid, "i", val)
    assert E.get_cell(sess.get("t"), rid, "i") == val
    sess.undo("t")
    assert E.get_cell(sess.get("t"), rid, "i") == before


def test_rejected_edit_leaves_table_unchanged(spark):
    sdf = E.with_rid(spark.createDataFrame(BASE))
    with pytest.raises(E.CellEditRejected):
        E.set_cell(sdf, 0, "i", "not-an-int")
    got = sdf.toPandas().sort_values("__rid").drop(columns="__rid").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, BASE)

@pytest.mark.parametrize("driver", ["bind", "session"])
@pytest.mark.parametrize("seed", [7, 1234])
def test_long_edit_sequence_with_undo_redo_and_compact(spark, tmp_path, monkeypatch, seed, driver):
    """Deep composition run (120 ops): set/delete/cut-paste/undo/redo
    through the real EditorSession history, differentially against a
    pandas mirror implementing the reference's positional semantics.
    Pins the ``__rid`` dense-ordinal invariant under arbitrary
    composition — the editor core's one structural promise — and (r5
    verdict item 7) that ``bind``'s automatic overlay compaction keeps
    the plan bounded WITHOUT any explicit ``compact()`` call.

    Two drivers: ``bind`` rebinds ``E.op(get())``; ``session`` calls
    the session's own edits, whose deletes keep pinned ids with gaps,
    and at every checkpoint also compares every page view and a saved
    file with the mirror.

    Seeded random (not hypothesis): one long trajectory exercises
    plan-depth/compaction interactions that many short examples never
    reach, at a fixed CI cost.  Spark ops stay lazy between compacts,
    so the whole run is ~8 checkpoint jobs + 5 comparison collects."""
    import random

    from parquet_editor_spark.session import EditorSession

    compactions = []
    compact = E.compact
    monkeypatch.setattr(E, "compact", lambda df: compactions.append(df) or compact(df))
    rng = random.Random(seed)
    sess = EditorSession(spark)
    sess.bind("t", E.with_rid(spark.createDataFrame(BASE)), undoable=False)
    hist, redo = [BASE.copy()], []

    def push(pdf):
        hist.append(pdf)
        redo.clear()

    for step in range(1, 121):
        pdf = hist[-1]
        n = len(pdf)
        kind = rng.choices(
            ["set", "delete", "cutpaste", "undo", "redo"],
            weights=[40, 15, 15, 15, 10],
        )[0]
        if kind == "set" and n:
            rid = rng.randrange(n)
            col, val = rng.choice(
                [("i", rng.randint(-99, 99)), ("f", float(rng.randint(-90, 90)) / 4),
                 ("s", rng.choice("xyzw"))]
            )
            if driver == "session":
                sess.set_cell("t", rid, col, val)
            else:
                sess.bind("t", E.set_cell(sess.get("t"), rid, col, val))
            out = pdf.copy()
            out.iloc[rid, out.columns.get_loc(col)] = val
            push(out)
        elif kind == "delete" and n > 1:
            rids = sorted(rng.sample(range(n), rng.choice([1, 2])))
            if driver == "session":
                sess.delete_rows("t", rids)
            else:
                sess.bind("t", E.delete_rows(sess.get("t"), rids))
            push(pdf.drop(pdf.index[rids]).reset_index(drop=True))
        elif kind == "cutpaste" and n > 1:
            src = rng.randrange(n)
            pos = rng.randrange(n)  # n-1 rows remain → pos in [0, n-1]
            pclip = pdf.iloc[[src]]
            prest = pdf.drop(pdf.index[src]).reset_index(drop=True)
            if driver == "session":
                # two undoable edits: the cut, then the paste
                sess.cut_rows("t", [src])
                push(prest)
                sess.paste_rows("t", pos)
            else:
                clip, rest = E.cut_rows(sess.get("t"), [src])
                sess.bind("t", E.paste_rows(rest, clip, pos))
            push(
                pd.concat([prest.iloc[:pos], pclip, prest.iloc[pos:]])
                .reset_index(drop=True)
            )
        elif kind == "undo" and len(hist) > 1:
            assert sess.can_undo("t")
            sess.undo("t")
            redo.append(hist.pop())
        elif kind == "redo" and redo:
            assert sess.can_redo("t")
            sess.redo("t")
            hist.append(redo.pop())
        if step % 30 == 0 or step == 120:
            want = hist[-1]
            got = (
                sess.get("t")
                .toPandas()
                .sort_values("__rid")
                .reset_index(drop=True)
            )
            # __rid must remain a dense 0..n-1 ordinal at every point
            assert got["__rid"].tolist() == list(range(len(got))), step
            pd.testing.assert_frame_equal(
                got.drop(columns="__rid"), want, obj=f"step {step}"
            )
            if driver == "session":
                for offset in range(0, len(want) + 1, 2):
                    pd.testing.assert_frame_equal(
                        sess.preview("t", n=2, offset=offset),
                        want.iloc[offset : offset + 2].reset_index(drop=True),
                        obj=f"step {step} page at {offset}",
                    )
                path = str(tmp_path / f"step{step}.parquet")
                sess.save("t", path)
                saved = pd.read_parquet(path).sort_values(["i", "f", "s"]).reset_index(drop=True)
                pd.testing.assert_frame_equal(
                    saved, want.sort_values(["i", "f", "s"]).reset_index(drop=True), obj=f"step {step} save"
                )
            # bind()'s auto-compaction must bound the overlay plan: a
            # chain deeper than COMPACT_EVERY CASE WHEN projections
            # means no compaction fired on this mutation route
            plan = sess.get("t")._jdf.queryExecution().analyzed().toString()
            # one bind can add a few CASE WHENs (paste re-ranks rids,
            # delete re-ranks survivors), so the bound is per-bind cost
            # times the compaction period — the point is it's O(period),
            # not O(total edits): 120 uncompacted steps would exceed it
            assert plan.count("CASE WHEN") <= 3 * sess.COMPACT_EVERY, (
                f"step {step}: overlay depth {plan.count('CASE WHEN')} "
                "exceeds auto-compaction bound"
            )
    assert compactions, "the run never crossed an auto-compaction"
    sess.drop_table("t")


# ---------------------------------------------------------------------------
# resample properties: a random sparse series, pandas as the oracle
# ---------------------------------------------------------------------------

@given(
    obs=st.lists(
        st.tuples(st.integers(0, 14), st.floats(0, 100, allow_nan=False)),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_resample_ffill_matches_pandas(spark, obs):
    from parquet_editor_spark.operators import query as q

    pdf = pd.DataFrame(
        {
            "k": 1,
            "ts": [pd.Timestamp("2024-01-01") + pd.Timedelta(days=d) for d, _ in obs],
            "value": [round(v, 4) for _, v in obs],
        }
    )
    sdf = spark.createDataFrame(pdf)
    got = (
        q.resample_ffill(sdf, "k", "ts", "value", unit="day")
        .orderBy("bucket")
        .collect()
    )
    expect = (
        pdf.set_index("ts")["value"]
        .resample("D")
        .mean()
        .round(4)
        .ffill()
    )
    assert len(got) == len(expect)
    for r, (ts, v) in zip(got, expect.items()):
        assert pd.Timestamp(r["bucket"]) == ts
        assert r["v_fill"] == pytest.approx(v, abs=1e-9)


@given(
    seen_texts=st.lists(st.sampled_from("abcdef"), max_size=4),
    new_rows=st.lists(
        st.tuples(st.integers(0, 99), st.sampled_from("abcdef")),
        min_size=1,
        max_size=6,
        unique_by=lambda t: t[0],
    ),
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_incremental_dedup_matches_python(spark, seen_texts, new_rows):
    from parquet_editor_spark.operators import dedup as D

    new = spark.createDataFrame(new_rows, "id long, text string")
    seen = spark.createDataFrame(
        [(i, t) for i, t in enumerate(seen_texts)] or [],
        "id long, text string",
    )
    got = sorted(r["id"] for r in D.incremental_dedup(new, seen, "id", "text").collect())
    first_by_text = {}
    for i, t in sorted(new_rows):
        if t not in set(seen_texts) and t not in first_by_text:
            first_by_text[t] = i
    assert got == sorted(first_by_text.values())


@given(
    base=st.dictionaries(
        st.integers(0, 12),
        st.tuples(st.sampled_from(["a", "b", None]), st.integers(0, 3)),
        max_size=10,
    ),
    curr=st.dictionaries(
        st.integers(0, 12),
        st.tuples(st.sampled_from(["a", "b", None]), st.integers(0, 3)),
        max_size=10,
    ),
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_table_diff_matches_python_reference(spark, base, curr):
    """table_diff ≡ the dict-diff: added/removed/changed with null-safe
    equality, unchanged keys absent."""
    from pyspark.sql import functions as F

    from parquet_editor_spark.operators import warehouse as WH

    mk = lambda d: spark.createDataFrame(
        [(k, s, v) for k, (s, v) in sorted(d.items())] or [(None, None, None)],
        "k long, s string, v long",
    ).filter(F.col("k").isNotNull())
    got = {
        r["k"]: r["change_type"]
        for r in WH.table_diff(mk(base), mk(curr), ["k"]).collect()
    }
    want = {}
    for k in set(base) | set(curr):
        if k not in base:
            want[k] = "added"
        elif k not in curr:
            want[k] = "removed"
        elif base[k] != curr[k]:
            want[k] = "changed"
    assert got == want


@given(
    steps=st.lists(
        st.tuples(
            st.sampled_from(["overwrite", "append"]),
            st.lists(st.integers(0, 50), min_size=1, max_size=5),
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_snapshot_versions_match_model(spark, tmp_path_factory, steps):
    """Random overwrite/append commit sequences: every historical
    version must read back exactly what the python model says that
    snapshot contained."""
    from parquet_editor_spark.operators import warehouse as WH

    p = str(tmp_path_factory.mktemp("snap"))
    model = []          # model[v-1] = multiset of rows in version v
    for mode, rows in steps:
        df = spark.createDataFrame([(r,) for r in rows], "k long")
        WH.snapshot_write(df, p, mode=mode)
        if mode == "append" and model:
            model.append(model[-1] + rows)
        else:
            model.append(list(rows))
    for v, want in enumerate(model, start=1):
        got = sorted(
            r["k"] for r in WH.snapshot_read(spark, p, v).collect()
        )
        assert got == sorted(want), (v, got, want)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 30), st.sampled_from(["A", "B", "C"])),
        min_size=1,
        max_size=15,
        unique_by=lambda t: t[0],
    ),
    purge=st.lists(st.integers(0, 30), max_size=8, unique=True),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_purge_keys_matches_model(spark, tmp_path_factory, rows, purge):
    from pyspark.sql import functions as F

    from parquet_editor_spark.operators import warehouse as WH

    p = str(tmp_path_factory.mktemp("purge")) + "/tbl"
    spark.createDataFrame(rows, "k long, part string").write.partitionBy(
        "part"
    ).parquet(p)
    keys = spark.createDataFrame(
        [(k,) for k in purge] or [(None,)], "k long"
    ).filter(F.col("k").isNotNull())
    WH.purge_keys(spark, p, "k", keys, "part")
    want = sorted(k for k, _ in rows if k not in set(purge))
    if not want:
        import glob as g

        assert not g.glob(f"{p}/part=*")   # every partition purged away
        return
    got = sorted(r["k"] for r in spark.read.parquet(p).collect())
    assert got == want


@settings(max_examples=20, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(data=st.data())
def test_strip_common_shingles_matches_python_model(spark, data):
    """strip_common_shingles vs a direct python model on random small
    corpora: same covered-position rule, same reassembly."""
    from parquet_editor_spark.operators.textprep import strip_common_shingles

    vocab = ["a", "b", "c", "d"]
    n, max_docs = 2, 2
    docs = data.draw(
        st.lists(
            st.lists(st.sampled_from(vocab), min_size=0, max_size=8),
            min_size=1,
            max_size=8,
        )
    )
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]

    # python model
    from collections import defaultdict

    sh_docs = defaultdict(set)
    for i, ws in enumerate(docs):
        for p in range(len(ws) - n + 1):
            sh_docs[tuple(ws[p : p + n])].add(i)
    common = {s for s, ds in sh_docs.items() if len(ds) > max_docs}
    expect = {}
    for i, ws in enumerate(docs):
        covered = set()
        for p in range(len(ws) - n + 1):
            if tuple(ws[p : p + n]) in common:
                covered.update(range(p, p + n))
        expect[i] = " ".join(
            w for p, w in enumerate(ws) if p not in covered
        )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["clean_text"]
        for r in strip_common_shingles(
            df, "doc_id", "text", n=n, max_docs=max_docs
        ).collect()
    }
    assert got == expect
