"""Property tests for the dedup keep/drop cluster machinery
(VERDICT r2 item 8): random prefix dup graphs — chains, stars, cliques,
mixed components, several docs per text and NULL texts, over
non-contiguous ids — must always collapse to one min-id keeper per
connected component with no convergence warning, and an adversarially
ordered long chain must end in one label."""

import warnings

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from knowledge_harvest_from_lms_spark.operators.dedup import cluster_decisions


def _components(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find ground truth: node -> min id of its component."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n_nodes)}


@st.composite
def dup_graphs(draw):
    """(n_nodes, docs, edges): up to 6 components of shape chain / star
    / clique over text nodes (the adversarial long chain has its own
    test below); each node is the text of 1-3 docs, and 1-3 more docs
    have a NULL text. ``docs`` is [(doc_id, node or None)] over sparse,
    shuffled, non-contiguous ids."""
    n_comps = draw(st.integers(1, 6))
    sizes = [draw(st.integers(1, 18)) for _ in range(n_comps)]
    n_nodes = sum(sizes)
    copies = draw(st.lists(st.integers(1, 3), min_size=n_nodes, max_size=n_nodes))
    owners = [i for i in range(n_nodes) for _ in range(copies[i])]
    owners += [None] * draw(st.integers(1, 3))
    # non-contiguous, shuffled external ids
    gaps = draw(
        st.lists(st.integers(1, 50), min_size=len(owners), max_size=len(owners))
    )
    ids = []
    acc = 0
    for g in gaps:
        acc += g
        ids.append(acc)
    perm = draw(st.permutations(range(len(owners))))
    docs = [(ids[p], owner) for p, owner in zip(perm, owners)]

    edges = []
    base = 0
    for size in sizes:
        nodes = list(range(base, base + size))
        shape = draw(st.sampled_from(["chain", "star", "clique"]))
        if size > 1:
            if shape == "chain":
                edges += list(zip(nodes, nodes[1:]))
            elif shape == "star":
                hub = draw(st.sampled_from(nodes))
                edges += [(hub, x) for x in nodes if x != hub]
            else:
                edges += [
                    (a, b) for i, a in enumerate(nodes) for b in nodes[i + 1:]
                ][: 4 * size]
        base += size
    return n_nodes, docs, edges


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(g=dup_graphs())
def test_one_min_keeper_per_component(spark, g):
    """Each node is a distinct text and the pairs are over those texts:
    a doc's cluster is its text's component, docs sharing a text are
    one cluster with no pair between them, and the NULL-text docs form
    one cluster of their own."""
    n_nodes, docs, edges = g
    expected = _components(n_nodes, edges)
    text = lambda node: None if node is None else f"text {node:03d}"  # noqa: E731

    df = spark.createDataFrame(
        [(d, text(node)) for d, node in docs], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(text(a), text(b)) for a, b in edges], "ent_a string, ent_b string"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # no convergence warning
        rows = cluster_decisions(df, pairs, "text", "doc_id", 512).collect()

    got = {r.doc_id: (r.canonical_id, r.is_duplicate) for r in rows}
    assert len(rows) == len(got) == len(docs)
    cluster = lambda node: "null" if node is None else expected[node]  # noqa: E731
    comp_min = {}
    for d, node in docs:
        comp_min[cluster(node)] = min(d, comp_min.get(cluster(node), d))
    for d, node in docs:
        want_canon = comp_min[cluster(node)]
        assert got[d] == (want_canon, d != want_canon), (d, node, got[d])
    # exactly one keeper per component
    keepers = [d for d, (c, dup) in got.items() if not dup]
    assert sorted(keepers) == sorted(comp_min.values())


def test_adversarial_chain_one_label_no_warning(spark):
    """A 200-node chain with ids permuted against the chain order (the
    shape where min-label propagation needs about path-length rounds)
    collapses to ONE canonical id, with no warning: canonical_map
    labels from the star loop, which has no iteration budget to run
    out of."""
    import random

    from knowledge_harvest_from_lms_spark.operators.graph import canonical_map

    rng = random.Random(42)
    ids = [f"v{i:04d}" for i in range(200)]
    rng.shuffle(ids)
    ents = spark.createDataFrame([(e,) for e in ids], "ent string")
    pairs = spark.createDataFrame(
        list(zip(ids, ids[1:])), "ent_a string, ent_b string"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        rows = canonical_map(ents, pairs).collect()
    assert len(rows) == len(ids)
    assert {r.canonical for r in rows} == {min(ids)}


def test_minhash_pairs_sound_and_exact_complete_via_duckdb(spark):
    """DuckDB soundness oracle for the q93 minhash pairs (VERDICT r2
    item 3's q93 half, test-level since banding completeness is
    probabilistic): every reported pair's TRUE padded-3-gram jaccard
    over 512-char prefixes must clear the threshold (soundness), and
    every jaccard = 1.0 pair must be reported (exact-dup completeness
    is guaranteed — identical gram sets share every band, and
    identical prefixes pair through the star edges)."""
    import duckdb

    from knowledge_harvest_from_lms_spark.operators.dedup import (
        minhash_near_dup_pairs,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    reported = minhash_near_dup_pairs(
        docs, "text", "doc_id", sim_threshold=0.8
    ).collect()
    assert reported, "synthetic docs are templated; pairs expected"

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    con.execute("""
        CREATE VIEW grams AS
        SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(
                 RANGE(1, GREATEST(LENGTH(p) - 2, 1) + 1),
                 i -> SUBSTR(p, i, 3))) AS g
        FROM (SELECT doc_id, ' ' || SUBSTR(text, 1, 512) || ' ' AS p
              FROM documents)
    """)
    true_jac = {
        (a, b): j
        for a, b, j in con.execute("""
            SELECT x.doc_id, y.doc_id,
                   CAST(LEN(LIST_INTERSECT(x.g, y.g)) AS DOUBLE)
                   / LEN(LIST_DISTINCT(LIST_CONCAT(x.g, y.g)))
            FROM grams x JOIN grams y ON x.doc_id < y.doc_id
        """).fetchall()
    }
    for r in reported:
        assert true_jac[(r.id_a, r.id_b)] >= 0.8 - 1e-9, (
            r.id_a, r.id_b, true_jac[(r.id_a, r.id_b)], r.jaccard)
    got = {(r.id_a, r.id_b) for r in reported}
    exact = {k for k, j in true_jac.items() if j >= 1.0 - 1e-12}
    assert exact, "expected at least one exact-gram-set pair at sf0.001"
    assert exact <= got, exact - got


_BASE = (
    "spark engines shuffle data between executors when joins or "
    "aggregations repartition by key across the cluster nodes every night"
)
# an exact group of three docs, two near-dup prefixes of it with two and
# three docs, and one unrelated doc
_PLANTED = (
    [(d, _BASE) for d in (4, 11, 17)]
    + [(d, _BASE.replace("executors", "executor")) for d in (2, 9)]
    + [(d, _BASE.replace("night", "nights")) for d in (6, 13, 20)]
    + [(30, "a completely different very short text about giraffes")]
)


def test_minhash_pairs_report_each_id_pair_once(spark):
    """q93's pair list holds each (id_a, id_b) once with no dedup pass:
    star edges inside each identical-prefix group, and every doc of a
    near-dup prefix paired with every doc of the other prefix."""
    from knowledge_harvest_from_lms_spark.operators.dedup import (
        minhash_near_dup_pairs,
    )

    docs = spark.createDataFrame(_PLANTED, "doc_id long, text string")
    rows = minhash_near_dup_pairs(docs, "text", "doc_id", 0.8).collect()
    got = [(r.id_a, r.id_b) for r in rows]
    assert len(got) == len(set(got))
    groups = [(4, 11, 17), (2, 9), (6, 13, 20)]
    star = {(g[0], d) for g in groups for d in g[1:]}
    near = {
        (min(a, b), max(a, b))
        for i, ga in enumerate(groups)
        for gb in groups[i + 1:]
        for a in ga
        for b in gb
    }
    assert set(got) == star | near
    assert all(r.jaccard == 1.0 for r in rows if (r.id_a, r.id_b) in star)


def test_dedup_documents_job_count(spark):
    """``dedup_documents`` on a fixed fixture: building the plan (LSH
    posting and encoding checkpoints, the star loop over the prefix
    pairs) and running it take at most 19 Spark jobs (measured 19 at
    shuffle partitions 2 and 8, three runs each)."""
    from knowledge_harvest_from_lms_spark.operators.dedup import dedup_documents

    docs = spark.createDataFrame(_PLANTED, "doc_id long, text string")
    docs = docs.localCheckpoint(eager=True)
    sc = spark.sparkContext
    group = "dedup-documents-jobs"
    sc.setJobGroup(group, "dedup_documents")
    try:
        rows = dedup_documents(docs, "text", "doc_id", 0.8).collect()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    got = {r.doc_id: r.canonical_id for r in rows}
    assert got == {d: (30 if d == 30 else 2) for d, _ in _PLANTED}
    assert len(jobs) <= 19


def test_paragraph_dedup_across_docs(spark):
    """Cross-doc paragraph dedup: first occurrence by (id, pos) wins,
    texts reassemble in order, empty docs survive as rows."""
    from pyspark.sql import Row

    from knowledge_harvest_from_lms_spark.operators.dedup import (
        dedup_paragraphs_across_docs,
    )

    boiler = "subscribe to the newsletter"
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"alpha one\n\n{boiler}\n\nalpha two"),
            Row(doc_id=2, text=f"{boiler}\n\nbeta body"),
            Row(doc_id=3, text=boiler),          # loses its only para
            Row(doc_id=4, text=None),            # NULL text
        ]
    )
    out = {r.doc_id: r for r in dedup_paragraphs_across_docs(df).collect()}
    assert out[1].text == f"alpha one\n\n{boiler}\n\nalpha two"
    assert out[1].n_paras_kept == 3
    assert out[2].text == "beta body"            # boiler cut, order kept
    assert out[2].n_paras_kept == 1
    assert out[3].text == "" and out[3].n_paras_kept == 0
    assert out[4].text == "" and out[4].n_paras_kept == 0  # row preserved


def test_paragraph_dedup_min_chars_keeps_short(spark):
    """Paragraphs below min_para_chars are kept VERBATIM everywhere —
    never used as dedup keys (cutting every 'Yes.' corpus-wide is not
    the intent)."""
    from pyspark.sql import Row

    from knowledge_harvest_from_lms_spark.operators.dedup import (
        dedup_paragraphs_across_docs,
    )

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="Yes.\n\nlong paragraph body here"),
            Row(doc_id=2, text="Yes.\n\nother body"),
        ]
    )
    out = {
        r.doc_id: r
        for r in dedup_paragraphs_across_docs(df, min_para_chars=10).collect()
    }
    assert out[1].text.startswith("Yes.")
    assert out[2].text.startswith("Yes.")  # short para kept in BOTH


def test_paragraph_dedup_skew_safe_plan(spark):
    """The winner per paragraph is a partial-agg min, not a window
    over the paragraph key — no Window node in the plan (a hot
    boilerplate paragraph must collapse map-side)."""
    from pyspark.sql import Row

    from knowledge_harvest_from_lms_spark.operators.dedup import (
        dedup_paragraphs_across_docs,
    )

    df = spark.createDataFrame([Row(doc_id=1, text="a\n\nb")])
    plan = (
        dedup_paragraphs_across_docs(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
