"""Static contract checks on __spark_entry__.py — the driver consumes
``queries()``/``oracle_sql()`` as dict literals, and a duplicated key
silently shadows an earlier entry (a real round-1 defect: two
``q3_shipping_priority`` literals hid one query slot AND two different
oracle texts)."""

import ast
import os
from pathlib import Path

import pytest

ENTRY = Path(__file__).resolve().parent.parent / "__spark_entry__.py"


def _literal_keys(fn_name: str) -> list[str]:
    tree = ast.parse(ENTRY.read_text())
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name == fn_name:
            keys: list[str] = []
            for sub in ast.walk(node):
                if isinstance(sub, ast.Dict):
                    keys.extend(
                        k.value for k in sub.keys
                        if isinstance(k, ast.Constant) and isinstance(k.value, str)
                    )
            return keys
    raise AssertionError(f"no function {fn_name} in {ENTRY}")


def test_queries_keys_unique():
    keys = _literal_keys("queries")
    dupes = sorted({k for k in keys if keys.count(k) > 1})
    assert not dupes, f"duplicate queries() keys: {dupes}"


def test_oracle_keys_unique():
    keys = _literal_keys("oracle_sql")
    dupes = sorted({k for k in keys if keys.count(k) > 1})
    assert not dupes, f"duplicate oracle_sql() keys: {dupes}"


def test_top_level_functions_unique():
    tree = ast.parse(ENTRY.read_text())
    names = [n.name for n in tree.body if isinstance(n, ast.FunctionDef)]
    dupes = sorted({n for n in names if names.count(n) > 1})
    assert not dupes, f"shadowed function definitions: {dupes}"


def test_driver_window_is_exactly_50_and_holds_priority_queries():
    """The driver adjudicates only the FIRST 50 queries() entries per
    round.  Round 2 overflowed the priority block to 59, so 9 queries
    silently missed adjudication — pin the round-16 window composition
    (the r15 verdict's task #1, OLDEST-FIRST rotation): the 9 r16
    debuts, the 8 PASSING r3 agreement probes ordered re-adjudicated,
    the 28 remaining r9-stale entries, and the 5 list-first r10-stale
    entries — exactly filling the window; the 44 remaining r10
    entries head the r17 rotation, expected-divergent probes and
    stable rows-only entries stay retired."""
    keys = _literal_keys("queries")
    window = keys[:50]
    assert window[-1] == "pdf_extract_docs", (
        f"window boundary moved: 50th entry is {window[-1]!r}"
    )
    must_be_in_window = {
        # new in r16 (the r15 verdict's tasks #2-#5 + the v12
        # dataloader handoff capstone + filtered serving)
        "ivfadc_topk_rerank", "ivfadc_rerank_recall",
        "ivfadc_delete_topk", "shuffle_blocks_v10",
        "byte_bpe_merge_sweep_docs",
        "pipeline_curation_v12", "shard_schedule_v12",
        "ivfadc_filtered_topk", "ivfadc_rerank_depth_sweep",
        # the 8 PASSING r3 agreement probes (r15 verdict Missing #1 —
        # live portability assumptions, re-adjudicated this round)
        "probe_hugeint_cast", "probe_ts_subus", "probe_ts_subsec",
        "probe_round_ties", "probe_double_repr", "probe_ts_repr",
        "probe_regex_ws_agree", "probe_json_regex_new",
        # the 28 remaining r9-stale entries
        "tar_extract_docs", "wds_samples_docs", "crawl_curation_v1",
        "wds_export_roundtrip", "pack_sequences_docs",
        "tfrecord_roundtrip", "packed_blocks_text",
        "shards_to_blocks_v1", "tfrecord_export_roundtrip",
        "arrow_ipc_roundtrip", "stream_shard_ingest",
        "parquet_payload_roundtrip", "corpus_report_v1",
        "jsonl_shard_roundtrip", "vocab_coverage",
        "funnel_signup_purchase", "retention_cohorts",
        "merge_upsert_orders", "scd2_user_status",
        "zorder_cluster_keys", "multimodal_resize",
        "parquet_roundtrip_partitioned", "orc_roundtrip_lineitem",
        "corr_matrix", "q8_market_share", "q10_returned_revenue",
        "q12_priority_lines", "q14_promo_revenue",
        # the 5 list-first r10-stale entries (the 44 remaining head
        # the r17 rotation)
        "bpe_tokenize_docs", "pack_ids_docs", "url_curation_docs",
        "host_profile_docs", "pdf_extract_docs",
    }
    assert len(must_be_in_window) == 50, len(must_be_in_window)
    missing = must_be_in_window - set(window)
    assert not missing, f"priority queries outside driver window: {missing}"
    # expected-divergent probes / stable err:no_oracle entries must
    # NOT burn slots
    retired = {
        "probe_int_float_hash", "probe_hugeint_sum", "probe_regex_ws_vt",
        "probe_json_cast_old", "stratified_sample", "approx_stats",
    }
    leaked = retired & set(window)
    assert not leaked, f"retired entries back inside the window: {leaked}"


def test_window_outputs_are_scalar_shaped(spark):
    """Every first-50 (driver-adjudicated) query must emit only
    scalar top-level columns.  The driver canonicalizer sorts the
    result as a pandas frame before hashing, and a top-level
    Array/Map/Struct column crashes it (``TypeError: unhashable
    type: 'list'`` — burned the `tfidf_vectors` row in BOTH r6 and
    r7).  Nested data crossing the adjudication boundary must be
    serialized (CSV-joined string, exploded rows, …)."""
    import sys

    from pyspark.sql.types import ArrayType, MapType, StructType

    sys.path.insert(0, str(ENTRY.parent))
    import __spark_entry__ as M

    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    offenders = []
    for i, (name, fn) in enumerate(M.queries().items()):
        if i >= 50:
            break
        schema = fn(spark, sf_dir).schema
        bad = [
            f.name for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders.append(f"{name}: {bad}")
    assert not offenders, (
        "driver-window queries with non-scalar top-level columns "
        f"(the driver canon cannot hash these): {offenders}"
    )


def test_every_query_has_oracle_or_is_known_rows_only():
    import sys

    sys.path.insert(0, str(ENTRY.parent))
    import __spark_entry__ as M

    qs, osql = set(M.queries()), set(M.oracle_sql())
    assert not osql - qs, f"oracle entries without a query: {osql - qs}"
    # rows-only queries are an explicit, documented exception list
    assert qs - osql == {
        "stratified_sample",
        "approx_stats",
        "embedding_ivf_topk",
    }, f"unexpected rows-only queries: {qs - osql}"


def test_entry_worker_calls_only_in_synth():
    """The entry module's Python-worker bodies go through ``_synth`` or
    the ``multimodal`` helpers: one raw worker call, inside ``_synth``,
    and no hand-written generator, generator schema or sample
    decoder."""
    tree = ast.parse(ENTRY.read_text())
    worker = {"mapInPandas", "applyInPandas", "mapInArrow"}
    owners = [
        top.name
        for top in tree.body
        if isinstance(top, ast.FunctionDef)
        for c in ast.walk(top)
        if isinstance(c, ast.Call) and getattr(c.func, "attr", None) in worker
    ]
    assert owners == ["_synth"]
    hand_written = [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name in ("gen", "decode_samples")
        or isinstance(n, ast.Name) and n.id == "gen_schema"
    ]
    assert not hand_written, f"hand-written worker bodies at {hand_written}"


@pytest.mark.parametrize(
    "rows, keep, fields, make, want_schema, want_rows",
    [
        # the keep columns, then the fields, in order
        (
            [(1, 10, "a"), (2, 20, "bb")],
            ("doc_id", "n"),
            "payload binary, codec string",
            lambda i, n, t: (t.encode(), f"c{n}"),
            [("doc_id", "bigint"), ("n", "int"), ("payload", "binary"),
             ("codec", "string")],
            [(1, 10, b"a", "c10"), (2, 20, b"bb", "c20")],
        ),
        # a maker's None is a null
        (
            [(1, 10, "a"), (2, 20, None)],
            ("doc_id",),
            "payload binary, codec string",
            lambda i, n, t: (None, t),
            [("doc_id", "bigint"), ("payload", "binary"), ("codec", "string")],
            [(1, None, "a"), (2, None, None)],
        ),
        # empty input: no rows, the declared schema
        (
            [],
            ("doc_id",),
            "payload binary",
            lambda i, n, t: (t.encode(),),
            [("doc_id", "bigint"), ("payload", "binary")],
            [],
        ),
        # the maker reads text, which is not carried
        (
            [(1, 10, "abc"), (2, 20, "de")],
            ("doc_id",),
            "n_chars int",
            lambda i, n, t: (len(t) * n,),
            [("doc_id", "bigint"), ("n_chars", "int")],
            [(1, 30), (2, 40)],
        ),
    ],
    ids=["keep_then_fields", "none_is_null", "empty", "uncarried_read"],
)
def test_synth(spark, rows, keep, fields, make, want_schema, want_rows):
    import sys

    sys.path.insert(0, str(ENTRY.parent))
    import __spark_entry__ as M

    docs = spark.createDataFrame(rows, "doc_id bigint, n int, text string")
    out = M._synth(docs, fields, make, keep=keep)
    got = [(f.name, f.dataType.simpleString()) for f in out.schema.fields]
    assert got == want_schema
    assert sorted(tuple(r) for r in out.collect()) == want_rows
