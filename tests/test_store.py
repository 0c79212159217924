"""The incremental-store handle (`sources/store.py`): every store
table heals a mid-compaction crash before its existence probe, and
no operator or streaming module bypasses the handle."""

from __future__ import annotations

import ast
import json
import os
from functools import partial

import numpy as np
import pytest

from .conftest import SF_SMALL

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "var_elasticnet_bigdata_spark",
)

SHARED = " ".join(f"shr{i}word{i % 7}" for i in range(25))


def _uniq(tag: str, k: int) -> str:
    return " ".join(f"{tag}tok{i}" for i in range(k))


def _fp(k: int) -> int:
    # four 16-bit bands, none shared with any other k
    return sum(((4 * k + b + 1) * 0x0101) << (16 * b) for b in range(4))


def _text_batches(spark):
    """Doc 10 repeats doc 0 verbatim (an exact, near and substring
    duplicate); doc 11 is new."""
    schema = "doc_id long, text string"
    b1 = spark.createDataFrame(
        [(0, _uniq("a", 12) + " " + SHARED), (1, _uniq("b", 30)),
         (2, _uniq("c", 30))],
        schema,
    )
    b2 = spark.createDataFrame(
        [(10, _uniq("a", 12) + " " + SHARED), (11, _uniq("e", 30))], schema
    )
    return b1, b2


def _fp_batches(spark):
    schema = "doc_id long, fp long"
    b1 = spark.createDataFrame([(0, _fp(0)), (1, _fp(1)), (2, _fp(2))], schema)
    b2 = spark.createDataFrame([(10, _fp(0) ^ 0b1), (11, _fp(3))], schema)
    return b1, b2


def _video_batches(spark):
    schema = "doc_id long, frame_idx int, dhash long"

    def frames(doc, ks):
        return [(doc, i, _fp(k)) for i, k in enumerate(ks)]

    b1 = spark.createDataFrame(frames(0, [0, 1, 2]) + frames(1, [3, 4, 5]), schema)
    b2 = spark.createDataFrame(frames(10, [0, 1, 2]) + frames(11, [6, 7, 8]), schema)
    return b1, b2


def _vector_batches(spark):
    rng = np.random.default_rng(7)
    base = rng.normal(size=(4, 8))
    schema = "vec_id long, embedding array<double>"
    b1 = spark.createDataFrame([(i, base[i].tolist()) for i in range(3)], schema)
    near0 = base[0] + rng.normal(scale=1e-3, size=8)
    b2 = spark.createDataFrame(
        [(10, near0.tolist()), (11, base[3].tolist())], schema
    )
    return b1, b2


def _ivfpq_batches(spark):
    from var_elasticnet_bigdata_spark.sources import load_table

    e = load_table(spark, SF_SMALL, "embeddings")
    return e.filter("vec_id < 250"), e.filter("vec_id >= 250")


def _ivfpq_artifacts():
    art = json.load(open(os.path.join(PKG, "pinned", "ivfpq_artifacts.json")))
    return (
        np.array(art["centroids"], dtype=np.float64),
        np.array(art["codebook"], dtype=np.float64),
    )


def _operator(store: str):
    """(batches, dedup op with store-independent args bound, id column,
    table suffix -> bucket key)."""
    from var_elasticnet_bigdata_spark.operators import dedup as D
    from var_elasticnet_bigdata_spark.operators import similarity as S

    if store == "exact":
        return _text_batches, D.incremental_exact_dedup_bucketed, "doc_id", {
            "keys": "ck"}
    if store == "near_dup":
        return _text_batches, D.incremental_near_dup_bucketed, "doc_id", {
            "sigs": "doc_id", "bands": "bk"}
    if store == "substring":
        return _text_batches, D.incremental_substring_dedup_bucketed, "doc_id", {
            "psh": "s"}
    if store == "fingerprint":
        return _fp_batches, D.incremental_fingerprint_dedup_bucketed, "doc_id", {
            "fpb": "bk"}
    if store == "video":
        return _video_batches, D.incremental_video_dedup_bucketed, "doc_id", {
            "vfpb": "bk"}
    if store == "semantic":
        op = partial(
            S.incremental_semantic_dedup_bucketed, centroids=np.eye(8)[:4],
            eps=0.9,
        )
        return _vector_batches, op, "vec_id", {"vecs": "cell"}
    C, cb = _ivfpq_artifacts()
    op = partial(
        S.ivfpq_postings_append, centroids=C, codebook=cb, store_vectors=True
    )
    return _ivfpq_batches, op, "vec_id", {"pq": "cell", "vec": "cell"}


# (store, crashed table, ids the crashed table holds after batch 2):
# survivor stores keep {0, 1, 2, 11}, seen-set stores every batch id;
# the IVF-PQ pair is the 250 + 250 vector append whose sidecar lost
# the first batch when only `__pq` healed
CASES = [
    ("exact", "keys", [0, 1, 2, 11]),
    ("near_dup", "sigs", [0, 1, 2, 11]),
    ("near_dup", "bands", [0, 1, 2, 11]),
    ("semantic", "vecs", [0, 1, 2, 10, 11]),
    ("substring", "psh", [0, 1, 2, 10, 11]),
    ("fingerprint", "fpb", [0, 1, 2, 11]),
    ("video", "vfpb", [0, 1, 11]),
    ("ivfpq", "pq", list(range(500))),
    ("ivfpq", "vec", list(range(500))),
]


@pytest.mark.parametrize(
    "store,suffix,expected", CASES, ids=[f"{s}__{t}" for s, t, _ in CASES]
)
def test_crash_window_recovery_every_store_table(
    spark, tmp_path, store, suffix, expected
):
    """A crash inside `compact_bucketed` between DROP TABLE and the
    staging RENAME leaves the table's full content only in
    ``{table}__compacting``. The next batch must heal it before the
    store probes the catalog: the table then holds the first batch's
    rows plus the second's, the batch dedups against the recovered
    history, and no staging table is left for the next compaction to
    drop."""
    from var_elasticnet_bigdata_spark.sources.bucketing import write_bucketed

    batches, op, id_col, keys = _operator(store)
    name = f"cw_{store}"
    tables = [f"{name}__{s}" for s in keys] + [f"{name}__pq_ledger"]
    crashed = f"{name}__{suffix}"

    def drop_all():
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.sql(f"DROP TABLE IF EXISTS {t}__compacting")

    drop_all()
    path = str(tmp_path / "store")
    b1, b2 = batches(spark)
    try:
        op(b1, store_name=name, buckets=4, path=path)
        # the crash: full rewrite staged, target dropped, no rename
        write_bucketed(
            spark.table(crashed),
            f"{crashed}__compacting",
            keys[suffix],
            buckets=4,
            sort_cols=keys[suffix],
            path=str(tmp_path / "staging"),
            mode="overwrite",
        )
        spark.sql(f"DROP TABLE {crashed}")
        out = op(b2, store_name=name, buckets=4, path=path)
        if store != "ivfpq":
            survivors = out.select(id_col).distinct().collect()
            assert sorted(r[id_col] for r in survivors) == [11]
        for s in keys:
            t = spark.table(f"{name}__{s}")
            got = sorted(r[id_col] for r in t.select(id_col).distinct().collect())
            if s == suffix or store == "ivfpq":
                assert got == expected
            assert not spark.catalog.tableExists(f"{name}__{s}__compacting")
        if store == "ivfpq":
            assert spark.table(crashed).count() == 500
    finally:
        drop_all()


# ---------------------------------------------------------------------------
# structural: the heal-before-probe protocol cannot be bypassed

FORBIDDEN = {"recover_orphaned_compaction", "write_bucketed"}


def _store_table_names(tree: ast.AST) -> set[str]:
    """Names bound to an f-string with a ``__`` suffix part, i.e. a
    store table name like ``f"{store_name}__keys"``."""
    out = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Assign)
            and isinstance(node.value, ast.JoinedStr)
            and _is_store_fstring(node.value)
        ):
            out |= {t.id for t in node.targets if isinstance(t, ast.Name)}
    return out


def _is_store_fstring(node: ast.AST) -> bool:
    return isinstance(node, ast.JoinedStr) and any(
        isinstance(v, ast.Constant) and "__" in str(v.value) for v in node.values
    )


def _violations(path: str) -> list[str]:
    tree = ast.parse(open(path).read(), path)
    rel = os.path.relpath(path, PKG)
    table_names = _store_table_names(tree)
    bad = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            bad += [
                (node.lineno, f"imports {a.name}")
                for a in node.names
                if a.name in FORBIDDEN
            ]
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        called = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", "")
        if called in FORBIDDEN:
            bad.append((node.lineno, f"calls {called}"))
        if (
            called == "tableExists"
            and isinstance(fn, ast.Attribute)
            and isinstance(fn.value, ast.Attribute)
            and fn.value.attr == "catalog"
            and node.args
            and (
                _is_store_fstring(node.args[0])
                or (
                    isinstance(node.args[0], ast.Name)
                    and node.args[0].id in table_names
                )
            )
        ):
            bad.append((node.lineno, "probes a store table"))
    return [f"{rel}:{line} {what}" for line, what in sorted(bad)]


def _modules(*subdirs: str) -> list[str]:
    return sorted(
        os.path.join(PKG, d, f)
        for d in subdirs
        for f in os.listdir(os.path.join(PKG, d))
        if f.endswith(".py")
    )


def test_store_tables_only_through_bucketed_store():
    """Only `sources/` heals, probes and appends store tables: an
    operator or streaming loop that called `write_bucketed`,
    `recover_orphaned_compaction` or ``catalog.tableExists`` on a
    ``{name}__{suffix}`` table itself could probe before healing."""
    bad = [v for p in _modules("operators", "streaming") for v in _violations(p)]
    assert bad == []


def test_structural_check_flags_a_hand_written_protocol(tmp_path):
    """The check above is not vacuous: the hand-written protocol the
    handle replaced trips all three rules."""
    p = tmp_path / "op.py"
    p.write_text(
        "from ..sources.compaction import recover_orphaned_compaction\n"
        "def op(spark, store_name, df):\n"
        "    t = f'{store_name}__keys'\n"
        "    recover_orphaned_compaction(spark, t)\n"
        "    if spark.catalog.tableExists(t):\n"
        "        pass\n"
        "    spark.catalog.tableExists(f'{store_name}__sigs')\n"
        "    spark.catalog.tableExists('documents')\n"
        "    from ..sources import bucketing\n"
        "    bucketing.write_bucketed(df, t, 'k')\n"
    )
    assert [v.split(" ", 1)[1] for v in _violations(str(p))] == [
        "imports recover_orphaned_compaction",
        "calls recover_orphaned_compaction",
        "probes a store table",
        "probes a store table",
        "calls write_bucketed",
    ]


def test_one_streaming_store_loop():
    tree = ast.parse(open(os.path.join(PKG, "streaming", "dedup.py")).read())
    loops = [
        n.name
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name.endswith("_against_store")
    ]
    assert loops == ["stream_against_store"]
