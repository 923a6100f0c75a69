"""r06 expression-shape optimizations: the let-bound / packed forms must be
value-identical to the naive compositions they replaced.

Covers functions/text.py (`_let` word-shingle binding, scores-struct label)
and operators/geometry.py (`_zorder_sql`, the single z-order expression
inside with_tag_rewrite, against the scalar qtcore.rings.find_zorder)."""

from pyspark.sql import functions as F

from osmquadtree_depreceated_spark.functions import text as T
from osmquadtree_depreceated_spark.operators.geometry import _zorder_sql
from osmquadtree_depreceated_spark.qtcore.rings import find_zorder


def _shingle_ref(text, k=3):
    if text is None:
        return None
    w = text.split(" ")
    if len(w) < k:
        return []
    return [" ".join(w[i:i + k]) for i in range(len(w) - k + 1)]


def test_word_shingles_matches_reference(spark):
    rows = [
        (1, "a b c d e"),
        (2, "one two"),          # fewer than k tokens -> empty
        (3, ""),                 # splits to [''] -> empty
        (4, "x  y z"),           # empty token preserved by split
        (5, None),               # null text -> null
        (6, "a b c"),            # exactly k tokens -> one shingle
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["sh"]
        for r in df.select(
            "doc_id", F.expr(T.word_shingles("text", 3)).alias("sh")
        ).collect()
    }
    for doc_id, text in rows:
        assert got[doc_id] == _shingle_ref(text), (doc_id, text)


def test_lang_label_forms_agree(spark):
    texts = [
        "database hash spark vector table",       # tech-ish
        "query join merge aggregate filter",      # sqlish
        "fast slow window batch sort",            # perf
        "que joi fas slo dat has",                # mixed, tie-ish
        "short",                                  # below min score -> unk
        "",                                       # empty
        None,                                     # null -> unk
        "quequequequeque",                        # repeated trigram weight
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    standalone = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", T.lang_trigram("text").alias("g")
        ).collect()
    }
    via_struct = {
        r["doc_id"]: r["g"]
        for r in df.withColumn("__sc", T.trigram_scores_struct("text"))
        .select("doc_id", T.lang_from_scores("__sc").alias("g"))
        .collect()
    }
    assert standalone == via_struct
    # and the struct fields equal the public per-class scorer
    scored = df.withColumn("__sc", T.trigram_scores_struct("text")).select(
        "doc_id",
        *[F.col(f"__sc.s{i}").alias(f"a{i}")
          for i in range(len(T.LANG_CLASSES))],
        *[T.trigram_score(c, "text").alias(f"b{i}")
          for i, c in enumerate(T.LANG_CLASSES)],
    )
    for r in scored.collect():
        for i in range(len(T.LANG_CLASSES)):
            assert r[f"a{i}"] == r[f"b{i}"], r


def test_zorder_single_expression_matches_stepped(spark):
    maps = [
        {"highway": "motorway"},
        {"highway": "residential", "bridge": "yes"},
        {"highway": "service", "tunnel": "1", "layer": "2"},
        {"railway": "rail"},
        {"railway": "rail", "highway": "footway"},
        {"z_order": "77", "layer": "3", "bridge": "no"},
        {"z_order": "notanint", "highway": "motorway"},
        {"z_order": "", "highway": "trunk"},
        {"layer": "-4", "tunnel": "false"},
        {"bridge": "true", "tunnel": "yes"},
        {},
        None,
        {"highway": "nosuchclass"},
    ]
    df = spark.createDataFrame(
        [(i, m) for i, m in enumerate(maps)],
        "row_id long, kept map<string,string>",
    )
    single = {
        r["row_id"]: r["z"]
        for r in df.select(
            "row_id", F.expr(_zorder_sql("kept")).alias("z")
        ).collect()
    }
    # a NULL map gives 0, the same as an empty one
    assert single == {i: find_zorder(m or {}) for i, m in enumerate(maps)}
