"""The MinHash-LSH near-dup chain (`operators/dedup.py`): one signature
builder, one band step, one bucket-candidate step and one Jaccard
verify serve `minhash_signatures`, `lsh_candidate_pairs`,
`jaccard_pairs`, `curation.curate_corpus` and both incremental
near-dup stores."""

from __future__ import annotations

import ast
import os
import re

import pytest
from pyspark.sql import functions as F

from var_elasticnet_bigdata_spark.operators.curation import curate_corpus
from var_elasticnet_bigdata_spark.operators.dedup import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    incremental_near_dup,
    incremental_near_dup_bucketed,
    lsh_candidate_pairs,
    minhash_signatures,
    with_shingle_hashes,
)

from .conftest import SF_ORACLE

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "var_elasticnet_bigdata_spark",
)

# the one place each near-dup step is written
HELPERS = {
    "operators/dedup.py": {
        "_sig_expr", "duck_minhash_terms", "_band_expr", "_bucket_pairs",
        "_verify",
    },
}

_SHINGLE_INTERSECT = re.compile(r"array_intersect\(\s*(__)?sh")


def _flags(node: ast.AST) -> str | None:
    """What hand-written near-dup step ``node`` is, if any."""
    if (
        isinstance(node, ast.Subscript)
        and isinstance(node.value, ast.Name)
        and node.value.id == "MINHASH_A"
    ):
        return "MINHASH_A["
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        if "slice(sig" in node.value:
            return "slice(sig"
        if _SHINGLE_INTERSECT.search(node.value):
            return "array_intersect("
    if isinstance(node, ast.Call):
        fn = node.func
        name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", "")
        if name == "bucket_pair_expr":
            return "bucket_pair_expr("
        if (
            name == "array_intersect"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and re.match(r"(__)?sh", str(node.args[0].value))
        ):
            return "array_intersect("
    return None


def _violations(path: str, rel: str) -> list[str]:
    tree = ast.parse(open(path).read(), path)
    allowed = HELPERS.get(rel, set())
    bad = []

    def visit(node: ast.AST, owner: str) -> None:
        what = _flags(node)
        if what is not None and owner not in allowed:
            bad.append(f"{rel}:{node.lineno} {owner} {what}")
        for child in ast.iter_child_nodes(node):
            visit(child, owner)

    for top in tree.body:
        owner = top.name if isinstance(top, (ast.FunctionDef, ast.ClassDef)) else "<module>"
        visit(top, owner)
    return sorted(set(bad))


def test_near_dup_steps_written_once():
    """No operator or streaming module writes a signature term, a
    band slice, an in-bucket expansion or a shingle Jaccard outside
    the chain's helpers."""
    bad = []
    for d in ("operators", "streaming"):
        for f in sorted(os.listdir(os.path.join(PKG, d))):
            if f.endswith(".py"):
                bad += _violations(os.path.join(PKG, d, f), f"{d}/{f}")
    assert bad == []


def test_near_dup_check_flags_a_hand_written_copy(tmp_path):
    """The check above is not vacuous: a hand-copied chain trips all
    four rules, inside the helper module too."""
    p = tmp_path / "op.py"
    p.write_text(
        "from pyspark.sql import functions as F\n"
        "from .dedup import MINHASH_A, bucket_pair_expr\n"
        "def curate(sigs, sh, r):\n"
        "    t = f'array_min(transform(__sh, h -> {MINHASH_A[0]}L * h))'\n"
        "    band = f\"md5(concat_ws(',', slice(sig, b*{r}+1, {r})))\"\n"
        "    pairs = F.explode(F.expr(bucket_pair_expr(1024)))\n"
        "    inter = F.size(F.array_intersect('sh_a', 'sh_b'))\n"
        "    sql = 'size(array_intersect(sh_a, sh_b))'\n"
    )
    kinds = [v.split(" ")[-1] for v in _violations(str(p), "operators/dedup.py")]
    assert sorted(kinds) == sorted([
        "MINHASH_A[", "slice(sig", "bucket_pair_expr(", "array_intersect(",
        "array_intersect(",
    ])


@pytest.mark.parametrize("num_hashes", [4, 16])
def test_signature_bit_equal_to_unrolled_terms(spark, num_hashes):
    """The one zip_with signature equals the unrolled ``array_min``
    terms it replaced, value for value."""
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    terms = ", ".join(
        f"array_min(transform(__sh, h -> (({MINHASH_A[i]}L * h + {MINHASH_B[i]}L) % {MINHASH_P}L)))"
        for i in range(num_hashes)
    )
    old = with_shingle_hashes(docs, 3).select(
        "doc_id", F.expr(f"array({terms})").alias("sig")
    )
    new = minhash_signatures(docs, num_hashes=num_hashes)
    assert new.schema == old.schema
    assert new.count() == old.count() > 0
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_bucketed_band_keys_keep_their_stored_format(spark, tmp_path):
    """The bucketed store's ``bk`` rows equal the ``band_idx:md5`` key
    the persisted tables already hold."""
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").filter(
        F.col("doc_id") < 120
    )
    spark.sql("DROP TABLE IF EXISTS bkfmt__bands")
    spark.sql("DROP TABLE IF EXISTS bkfmt__sigs")
    try:
        incremental_near_dup_bucketed(
            docs, "bkfmt", bands=8, rows_per_band=2, buckets=4,
            path=str(tmp_path / "s"),
        )
        old = spark.table("bkfmt__sigs").select(
            F.explode(
                F.expr(
                    "transform(sequence(0, 7), b -> concat_ws(':', b,"
                    " md5(concat_ws(',', slice(sig, b*2+1, 2)))))"
                )
            ).alias("bk"),
            "doc_id",
        )
        got = spark.table("bkfmt__bands").select("bk", "doc_id")
        assert got.count() == old.count() == 8 * spark.table("bkfmt__sigs").count()
        assert got.exceptAll(old).count() == 0
        assert old.exceptAll(got).count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bkfmt__bands")
        spark.sql("DROP TABLE IF EXISTS bkfmt__sigs")


BAD_LAYOUTS = [
    {"bands": 8, "rows_per_band": 4},  # 32 rows over a 16-hash signature
    {"num_hashes": 17},  # past the fixed coefficients
]


@pytest.mark.parametrize("bad", BAD_LAYOUTS)
def test_entry_points_reject_bad_layouts(spark, tmp_path, bad):
    """Every entry point rejects an overrunning band layout and a hash
    count past the coefficients, before any Spark work or store
    table."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(4)],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError):
        curate_corpus(docs, **bad)
    with pytest.raises(ValueError):
        incremental_near_dup(docs, None, **bad)
    spark.sql("DROP TABLE IF EXISTS badlay__bands")
    spark.sql("DROP TABLE IF EXISTS badlay__sigs")
    with pytest.raises(ValueError):
        incremental_near_dup_bucketed(
            docs, "badlay", buckets=2, path=str(tmp_path / "s"), **bad
        )
    assert not spark.catalog.tableExists("badlay__sigs")
    with pytest.raises(ValueError):
        lsh_candidate_pairs(
            docs.select("doc_id", F.array(F.lit(1)).alias("sig")), **bad
        )
