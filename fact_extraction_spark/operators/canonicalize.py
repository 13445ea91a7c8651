"""Canonicalization: resolve co-referent entity names via connected components.

Generalizes the reference's one-hop alias fixes — redirect substitution
(/root/reference/data_cleaning/redirects_substitutor.py:52-64) and the
capitalize hotfix (wikipedia_connector/tagged_sentence.py:232-233,
helper_functions/uri_rewriting.py:49-58) — into a single graph pass: build
an ``edges(src, dst)`` DataFrame of name-equivalences (redirects, case
variants, co-mention aliases), compute connected components iteratively,
and rewrite triple subjects/objects to each component's canonical
representative.

The CC loop is the two-phase large-star/small-star alternation (SURVEY.md §4
item 3; Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14): each round is two join+agg passes over the edge set and the round
count is O(log diameter) — a pathological alias chain of length d converges
in ~log₂(d) rounds where plain min-label propagation costs d. A fixpoint
guard caps iterations and asserts convergence (SURVEY.md §7.4); each
round is one ``caches.materialize``, and the round before it is freed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fact_extraction_spark import caches


def _large_star(directed: DataFrame) -> DataFrame:
    """One large-star pass over directed edges (u, v) with v < u.

    For each vertex x with full neighborhood Γ(x): connect every strictly
    LARGER neighbor y to m(x) = min(Γ(x) ∪ {x}). Output stays in the
    (u, v), v < u orientation (m(x) ≤ x < y always)."""
    nbrs = directed.unionByName(
        directed.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (nbrs.groupBy("u").agg(F.min("v").alias("_mn"))
            .select("u", F.least(F.col("_mn"), F.col("u")).alias("m")))
    return (
        nbrs.filter(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(directed: DataFrame) -> DataFrame:
    """One small-star pass over directed edges (u, v) with v < u.

    For each vertex x with smaller-neighbor set S(x): connect every vertex
    of S(x) ∪ {x} to m = min(S(x)). Output keeps the v < u orientation."""
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    via_neighbors = (
        directed.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v")))
    via_center = mins.select("u", F.col("m").alias("v"))
    return (
        via_neighbors.unionByName(via_center)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(edges: DataFrame, max_iterations: int = 20) -> DataFrame:
    """edges(src, dst) → (vertex, component) with component = min vertex id
    (lexicographic) of the component.

    Large-star/small-star alternation until the edge set is stable (checked
    with a count + order-independent hash-sum — one cheap agg instead of a
    full set-difference per round). At convergence the graph is a disjoint
    union of stars centered at each component's min vertex, so the label
    table reads straight off the final edge set."""
    sym = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
    )
    vertices, _ = caches.materialize(
        sym.select(F.col("src").alias("vertex"))
        .unionByName(sym.select(F.col("dst").alias("vertex")))
        .distinct())
    # canonical orientation: (u, v) with v < u
    directed, _ = caches.materialize(
        sym.select(F.greatest("src", "dst").alias("u"),
                   F.least("src", "dst").alias("v"))
        .distinct())

    def _signature(d: DataFrame) -> tuple:
        # xxhash64 summed order-independently: a wrong early break needs
        # two distinct equal-count edge sets whose 64-bit hash sums collide
        # (~2^-64 — vs crc32's 2^-32, which is reachable at 10^12-doc edge
        # counts). Summed as decimal(38,0) so ANSI mode cannot overflow on
        # adjacent near-2^63 values; still one cheap 2-value aggregate.
        row = d.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h")
        ).collect()[0]
        return (row["n"], row["h"])

    sig = _signature(directed)
    for _ in range(max_iterations):
        previous = directed
        directed, _ = caches.materialize(_small_star(_large_star(directed)))
        caches.free(previous)
        new_sig = _signature(directed)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds")
    # stars: every non-root vertex u carries exactly one edge (u, root)
    return (
        vertices.join(directed.withColumnRenamed("u", "vertex"),
                      "vertex", "left")
        .select("vertex",
                F.coalesce(F.col("v"), F.col("vertex")).alias("component"))
    )


def build_equivalence_edges(redirects: DataFrame,
                            extra_edges: DataFrame | None = None) -> DataFrame:
    """Name-equivalence edges: resolved redirects + first-letter case
    variants (+ caller-provided co-reference edges)."""
    rd = redirects.select(F.col("alias").alias("src"),
                          F.col("target").alias("dst"))
    case = redirects.select(F.col("alias").alias("name")).unionByName(
        redirects.select(F.col("target").alias("name"))).distinct()
    case_edges = case.select(
        F.col("name").alias("src"),
        F.concat(F.upper(F.substring("name", 1, 1)),
                 F.substring("name", 2, 2_000_000)).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    edges = rd.unionByName(case_edges)
    if extra_edges is not None:
        edges = edges.unionByName(extra_edges.select("src", "dst"))
    return edges


def canonical_mapping(edges: DataFrame,
                      preferred: DataFrame | None = None) -> DataFrame:
    """(name, canonical): every name in the edge graph mapped to its
    component representative.

    ``preferred`` (one column ``name``, e.g. real page titles): if a
    component contains preferred names, its representative is the smallest
    preferred one; otherwise the component min.
    """
    comps = connected_components(edges)
    if preferred is None:
        return comps.select(F.col("vertex").alias("name"),
                            F.col("component").alias("canonical"))
    pref = comps.join(preferred.select(F.col("name").alias("vertex")), "vertex") \
        .groupBy("component").agg(F.min("vertex").alias("rep"))
    return (
        comps.join(pref, "component", "left")
        .select(
            F.col("vertex").alias("name"),
            F.coalesce(F.col("rep"), F.col("component")).alias("canonical"),
        )
    )


def canonicalize_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj and obj through the canonical mapping (identity on
    names outside the graph). The mapping is a broadcast dim."""
    m = F.broadcast(mapping)
    out = (
        triples.join(m.withColumnRenamed("name", "subj")
                     .withColumnRenamed("canonical", "_cs"), "subj", "left")
        .join(m.withColumnRenamed("name", "obj")
              .withColumnRenamed("canonical", "_co"), "obj", "left")
    )
    return out.select(
        F.coalesce("_cs", "subj").alias("subj"),
        "pred",
        F.coalesce("_co", "obj").alias("obj"),
        *[c for c in triples.columns if c not in ("subj", "pred", "obj")],
    )
