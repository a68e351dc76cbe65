"""Mode-aggregation golden tests + error contracts, ported from the
reference's tests/test_index.py (fixtures at :19-47, expectations :131-200,
error paths :202-271)."""

import numpy as np
import pytest

from sparkforward.encoders import LambdaEncoder
from sparkforward.index import Mode, VectorIndex
from sparkforward.ranking import Ranking
from sparkforward.score import ff_score, interpolated_rerank

QUERIES = {"q1": "query 1", "q2": "query 2"}
DOC_IDS = ["d0", "d0", "d1", "d2", "d3"]
PSG_IDS = ["p0", "p1", "p2", "p3", "p4"]
VECTORS = np.array(
    [
        [1, 0, 0, 0, 0],
        [1, 1, 0, 0, 0],
        [1, 1, 1, 0, 0],
        [1, 1, 1, 1, 0],
        [1, 1, 1, 1, 1],
    ],
    dtype=np.float32,
)
DOC_RUN = {
    "q1": {"d0": 100, "d1": 2, "d2": 3, "d3": 200},
    "q2": {"d0": 400, "d1": 5, "d2": 6, "d3": 800},
}
PSG_RUN = {
    "q1": {"p0": 100, "p1": 2, "p2": 3, "p3": 4, "p4": 5},
    "q2": {"p0": 500, "p1": 6, "p2": 7, "p3": 8, "p4": 9},
}
ENCODER = LambdaEncoder(lambda _: np.array([1, 1, 1, 1, 1], dtype=np.float32))


@pytest.fixture(scope="module")
def doc_psg_index(spark):
    return VectorIndex.empty(spark).add(VECTORS, doc_ids=DOC_IDS, psg_ids=PSG_IDS)


@pytest.fixture(scope="module")
def partial_ids_index(spark):
    """Mixed rows: some doc-only, some psg-only (ref test_index.py:58-69)."""
    idx = VectorIndex.empty(spark).add(
        VECTORS, doc_ids=[None, None] + DOC_IDS[2:], psg_ids=PSG_IDS[:-2] + [None, None]
    )
    idx = idx.add(VECTORS[:2], doc_ids=DOC_IDS[:2])
    return idx.add(VECTORS[-2:], psg_ids=PSG_IDS[-2:])


@pytest.fixture(scope="module")
def doc_ranking(spark):
    return Ranking.from_run(spark, DOC_RUN, queries=QUERIES)


@pytest.fixture(scope="module")
def psg_ranking(spark):
    return Ranking.from_run(spark, PSG_RUN, queries=QUERIES)


def test_properties(doc_psg_index, partial_ids_index):
    assert doc_psg_index.doc_ids == set(DOC_IDS)
    assert doc_psg_index.psg_ids == set(PSG_IDS)
    assert len(doc_psg_index) == 5
    assert doc_psg_index.dim == 5
    assert partial_ids_index.doc_ids == set(DOC_IDS)
    assert partial_ids_index.psg_ids == set(PSG_IDS)
    assert len(partial_ids_index) == 9


def test_queries_attached(spark, doc_psg_index, doc_ranking):
    assert ff_score(doc_ranking, doc_psg_index, encoder=ENCODER, mode=Mode.MAXP).has_queries


def test_maxp(spark, doc_psg_index, doc_ranking):
    expected = Ranking.from_run(
        spark,
        {"q1": {"d0": 2, "d1": 3, "d2": 4, "d3": 5},
         "q2": {"d0": 2, "d1": 3, "d2": 4, "d3": 5}},
    )
    assert ff_score(doc_ranking, doc_psg_index, encoder=ENCODER, mode=Mode.MAXP) == expected


def test_firstp(spark, doc_psg_index, partial_ids_index, doc_ranking):
    expected = Ranking.from_run(
        spark,
        {"q1": {"d0": 1, "d1": 3, "d2": 4, "d3": 5},
         "q2": {"d0": 1, "d1": 3, "d2": 4, "d3": 5}},
    )
    assert ff_score(doc_ranking, doc_psg_index, encoder=ENCODER, mode=Mode.FIRSTP) == expected
    assert ff_score(doc_ranking, partial_ids_index, encoder=ENCODER, mode=Mode.FIRSTP) == expected


def test_avep(spark, doc_psg_index, partial_ids_index, doc_ranking):
    expected = Ranking.from_run(
        spark,
        {"q1": {"d0": 1.5, "d1": 3, "d2": 4, "d3": 5},
         "q2": {"d0": 1.5, "d1": 3, "d2": 4, "d3": 5}},
    )
    assert ff_score(doc_ranking, doc_psg_index, encoder=ENCODER, mode=Mode.AVEP) == expected
    assert ff_score(doc_ranking, partial_ids_index, encoder=ENCODER, mode=Mode.AVEP) == expected


def test_passage(spark, doc_psg_index, partial_ids_index, psg_ranking):
    expected = Ranking.from_run(
        spark,
        {"q1": {"p0": 1, "p1": 2, "p2": 3, "p3": 4, "p4": 5},
         "q2": {"p0": 1, "p1": 2, "p2": 3, "p3": 4, "p4": 5}},
    )
    assert ff_score(psg_ranking, doc_psg_index, encoder=ENCODER, mode=Mode.PASSAGE) == expected
    assert ff_score(psg_ranking, partial_ids_index, encoder=ENCODER, mode=Mode.PASSAGE) == expected


@pytest.mark.parametrize("mode", [Mode.MAXP, Mode.AVEP, Mode.FIRSTP, Mode.PASSAGE])
def test_interpolated_rerank_equals_composition(spark, doc_psg_index, mode):
    """The single-pass interpolated_rerank returns the rows of the
    two-pass composition it replaces, ``sparse.interpolate(ff_score(...))``.
    Covers a candidate without a vector and a query without a query
    vector (both keep a dense score of 0), and rankings with and without
    a ``query`` column."""
    run = PSG_RUN if mode == Mode.PASSAGE else DOC_RUN
    run = {q: {**docs, "x9": 7} for q, docs in run.items()}  # x9: no vector
    run["q3"] = {"p2" if mode == Mode.PASSAGE else "d2": 11}  # q3: no qvec
    qvecs = {"q1": [0.5, -1.0, 2.0, 0.25, 1.5], "q2": [-0.75, 0.5, 1.0, 3.0, -2.0]}
    alpha = 0.3
    for queries in (None, {**QUERIES, "q3": "query 3"}):
        sparse = Ranking.from_run(spark, run, queries=queries)
        dense = ff_score(
            sparse, doc_psg_index, query_vectors=qvecs, mode=mode, check_missing=False
        )
        want = sparse.interpolate(dense, alpha)
        got = interpolated_rerank(
            sparse, doc_psg_index, alpha, query_vectors=qvecs, mode=mode
        )
        assert got.df.columns == want.df.columns
        assert sorted(map(tuple, got.df.collect())) == sorted(map(tuple, want.df.collect()))
        cut = interpolated_rerank(
            sparse, doc_psg_index, alpha, query_vectors=qvecs, mode=mode, k=2
        )
        assert cut == want.cut(2)
    assert got["q3"] == {("p2" if mode == Mode.PASSAGE else "d2"): pytest.approx(3.3)}
    assert got["q1"]["x9"] == pytest.approx(2.1)


def test_add_errors(spark):
    idx = VectorIndex.empty(spark)
    with pytest.raises(ValueError):
        idx.add(VECTORS, doc_ids=None, psg_ids=None)
    with pytest.raises(ValueError):
        idx.add(VECTORS, doc_ids=DOC_IDS[:-2])
    with pytest.raises(ValueError):
        idx.add(VECTORS, psg_ids=PSG_IDS[:-2])
    with pytest.raises(ValueError):
        idx.add(VECTORS, doc_ids=[None] + DOC_IDS[1:], psg_ids=[None] + PSG_IDS[1:])
    # duplicate passage IDs (ref index/memory.py:92-94)
    idx2 = VectorIndex.empty(spark).add(VECTORS[:1], psg_ids=PSG_IDS[:1])
    with pytest.raises(RuntimeError):
        idx2.add(VECTORS[:1], psg_ids=PSG_IDS[:1])
    # wrong dimension
    idx3 = VectorIndex.empty(spark).add(np.array([[0, 0], [1, 1]]), doc_ids=["d1", "d2"])
    with pytest.raises(ValueError):
        idx3.add(np.array([[0, 0, 0], [1, 1, 1]]), doc_ids=["d3", "d4"])


def test_scoring_errors(spark, doc_psg_index):
    # ranking without queries and no precomputed vectors
    r = Ranking.from_run(spark, DOC_RUN)
    with pytest.raises(ValueError):
        ff_score(r, doc_psg_index, encoder=ENCODER, mode=Mode.MAXP)
    # missing index ID -> IndexError (ref index/util.py:38-39)
    r_missing = Ranking.from_run(spark, {"q1": {"d0": 100, "dx": 2}}, queries=QUERIES)
    with pytest.raises(IndexError):
        ff_score(r_missing, doc_psg_index, encoder=ENCODER, mode=Mode.MAXP)


def test_index_save_load(spark, doc_psg_index, doc_ranking, tmp_path):
    path = str(tmp_path / "idx")
    reloaded = doc_psg_index.write(path)
    loaded = VectorIndex.load(spark, path)
    expected = ff_score(doc_ranking, doc_psg_index, encoder=ENCODER, mode=Mode.MAXP)
    assert ff_score(doc_ranking, loaded, encoder=ENCODER, mode=Mode.MAXP) == expected
    assert ff_score(doc_ranking, reloaded, encoder=ENCODER, mode=Mode.MAXP) == expected


def test_write_bucketed_layout_prunes_id_gathers(spark, tmp_path, doc_psg_index):
    """write(num_buckets=N) hash-partitions by doc_id and sorts each file
    by (doc_id, psg_id): N part files, identical data, and an id-filtered
    scan carries the pushed filter the sorted row groups can prune on."""
    import glob

    path = str(tmp_path / "bucketed")
    reloaded = doc_psg_index.write(path, num_buckets=3)
    parts = glob.glob(f"{path}/vectors/part-*.parquet")
    assert len(parts) == 3

    import pandas as pd

    a = doc_psg_index.df.toPandas().sort_values(["vec_idx"]).reset_index(drop=True)
    b = reloaded.df.toPandas().sort_values(["vec_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        a[["vec_idx", "doc_id", "psg_id"]], b[["vec_idx", "doc_id", "psg_id"]]
    )

    from pyspark.sql import functions as F

    scan = reloaded.df.filter(F.col("doc_id").isin(["d0"]))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "doc_id" in plan.split("PushedFilters")[1][:120]


def test_delete_ids_tombstone_semantics(spark, doc_psg_index, doc_ranking, tmp_path):
    """Dense-side doc deletion (round 7, maintenance symmetry with
    append.delete_docs): tombstone sidecar — vectors parquet untouched;
    loaded index excludes deleted docs; missing ids raise KeyError (the
    reference's S3 missing-ID contract); deletes are cumulative; scoring
    a run that still references a deleted doc raises like any unknown id."""
    import glob

    path = str(tmp_path / "idx")
    idx = doc_psg_index.write(path)
    vec_files = sorted(glob.glob(f"{path}/vectors/*.parquet"))

    with pytest.raises(KeyError, match="not in the index"):
        idx.delete_ids(["d1", "nope"])

    idx2 = idx.delete_ids(["d1"])
    assert idx2.doc_ids == {"d0", "d2", "d3"}
    # vectors parquet untouched — the whole point of the tombstone design
    assert sorted(glob.glob(f"{path}/vectors/*.parquet")) == vec_files
    # a reload sees the committed tombstones
    assert VectorIndex.load(spark, path).doc_ids == {"d0", "d2", "d3"}

    # cumulative second delete; re-deleting a gone id raises
    with pytest.raises(KeyError):
        idx2.delete_ids(["d1"])
    idx3 = idx2.delete_ids(["d3"])
    assert idx3.doc_ids == {"d0", "d2"}
    assert VectorIndex.load(spark, path).doc_ids == {"d0", "d2"}

    # gathering a run that references deleted docs raises the missing-ID
    # error exactly like never-indexed ids (S3 contract)
    with pytest.raises(Exception, match="not found|[Mm]issing"):
        ff_score(doc_ranking, idx3, encoder=ENCODER, mode=Mode.MAXP)

    # in-memory (pathless) index: pure filtered view
    mem = VectorIndex.empty(spark).add(VECTORS, doc_ids=DOC_IDS, psg_ids=PSG_IDS)
    assert mem.delete_ids(["d0"]).doc_ids == {"d1", "d2", "d3"}
