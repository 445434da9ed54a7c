"""Export sinks: GML graph (S5, GMLStorage.scala:33-86), linked-vectors /
Octave (S7, LinkedVectorsStorage.scala:34-53), per-wave statistics
(S6/A9-A12, GMLStorage.scala:88-108,205-274).

Primary sink = DataFrames (nodes / edges / metrics tables) computed with
distributed joins+aggregations; the byte-format text renderers are thin
driver-side projections of those small annotated results (a graph export
is a single text artifact by definition — at 10^10 scale you keep the
tables and render only filtered subgraphs).

Text formats are reproduced exactly from the reference's string
templates, validated line-by-line against the reference's own golden
files (data/network{1,2}.gml, data/matrix{1,2}.dat, data/map{1,2}.lst,
data/{1,2}.dat — TestGMLStorage.scala:28-71, TestLinkedVectorsStorage.scala:26-78).

Number rendering: Scala's ``Double.toString`` and Python's ``repr(float)``
both emit the shortest round-trip decimal — identical output.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webcrawler_spark.kernels.urls import seed_to_filename
from webcrawler_spark.kernels.vectors import SparseVector
from webcrawler_spark.plans.frames import local_frame


def _num(x: float) -> str:
    """Scala Double.toString parity (both shortest-roundtrip); integers
    render as '1.0'."""
    if x != x:
        return "NaN"
    if x == int(x) and abs(x) < 1e16:
        return f"{x:.1f}"
    return repr(float(x))


# ---------------------------------------------------------------------------
# id space + matrix from the engine's gml_log table
# ---------------------------------------------------------------------------


def gml_ids(gml_log: DataFrame) -> DataFrame:
    """The exporter's OWN RevMap id space (GMLStorage.scala:189-193 — grown
    independently from the estimator's ids, fed the same stream): first-seen
    order over (event ord, position), page url at pos -1 before its links.

    Id assignment reuses the crawler's distributed numbering
    (dense_first_seen_ids) instead of a global Window.orderBy — a global
    row_number funnels the whole url universe through ONE task, which at
    a 10^8-node graph is the single-task sort the wave engine already
    eliminated. Buckets are contiguous ``ord`` ranges; the returned frame
    is a JVM projection over a bucket-sorted checkpoint, so the in-loop
    snapshot dump (``export_snapshot``) reads it without Python tasks.

    Returns (url, gid)."""
    from webcrawler_spark.plans.crawler import dense_first_seen_ids

    pages = gml_log.select("ord", F.lit(-1).alias("pos"), F.col("url").alias("u"))
    links = gml_log.select("ord", F.posexplode("links").alias("pos", "u"))
    firsts = (
        pages.unionByName(links)
        .groupBy("u")
        .agg(F.min(F.struct("ord", "pos")).alias("fp"))
    )
    max_ord = gml_log.agg(F.max("ord")).first()[0]
    if max_ord is None:
        return local_frame(gml_log.sparkSession, [], "url string, gid long")
    ent = firsts.select(
        F.col("u").alias("url"),
        F.col("fp.ord").alias("dr"),
        F.col("fp.pos").alias("pos"),
    )
    n_parts = max(gml_log.sparkSession.sparkContext.defaultParallelism, 8)
    ids, _total = dense_first_seen_ids(
        ent, "url", "gid", base=1, nb=int(max_ord) + 1, n_parts=n_parts
    )
    return ids


def gml_matrix(gml_log: DataFrame, ids: DataFrame) -> tuple[DataFrame, DataFrame]:
    """matrix: one row per *fetched* page, last report wins
    (GMLStorage.scala:186-187 map overwrite). Returns
    (page_terms(gid, word, w), out_edges(gid, dst_gid))."""
    last = gml_log.groupBy("url").agg(F.max("ord").alias("ord"))
    cur = gml_log.join(last, ["url", "ord"])
    with_ids = cur.join(ids, "url")
    terms = with_ids.select("gid", F.explode_outer("terms").alias("word", "w")).filter(
        F.col("word").isNotNull()
    )
    out = (
        with_ids.select("gid", F.explode("links").alias("dst"))
        .join(ids.select(F.col("url").alias("dst"), F.col("gid").alias("dst_gid")), "dst")
        .select("gid", "dst_gid")
        .distinct()
    )
    return terms, out


# ---------------------------------------------------------------------------
# distributed annotations (A8, A9, G1, G2)
# ---------------------------------------------------------------------------


def _vec_df(spark, vec: SparseVector, name: str) -> DataFrame:
    return local_frame(spark, list(vec.items()), f"word string, {name} double")


def node_annotations(
    terms: DataFrame, central: SparseVector, factor: SparseVector
) -> DataFrame:
    """A8 (GMLStorage.scala:47-52): per node similarity / priority /
    dimension / length via broadcast central+factor joins — one hash agg."""
    spark = terms.sparkSession
    cn = _vec_df(spark, central.normal, "cw")
    fn = _vec_df(spark, factor.normal, "fw")
    joined = terms.join(F.broadcast(cn), "word", "left").join(
        F.broadcast(fn), "word", "left"
    )
    return joined.groupBy("gid").agg(
        F.sum(F.col("w") * F.col("w")).alias("sq_norm"),
        F.sum(F.col("w") * F.coalesce("cw", F.lit(0.0))).alias("dot_central"),
        F.sum(F.col("w") * F.coalesce("fw", F.lit(0.0))).alias("dot_factor"),
        F.count("*").alias("dimension"),
    ).select(
        "gid",
        (F.col("dot_central") / F.sqrt("sq_norm")).alias("similarity"),
        (F.col("dot_factor") / F.sqrt("sq_norm")).alias("priority"),
        "dimension",
        F.sqrt("sq_norm").alias("length"),
    )


def edge_annotations(terms: DataFrame, out_edges: DataFrame) -> DataFrame:
    """G2 + edge value/angle (GMLStorage.scala:56-74): graph self-join
    requiring the target fetched; value = ||v1 - v2||, angle =
    v1.normal . v2.normal. Dot products via word-join + hash agg."""
    fetched = terms.select("gid").distinct()
    edges = out_edges.join(
        fetched.withColumnRenamed("gid", "dst_gid"), "dst_gid", "left_semi"
    )
    norms = terms.groupBy("gid").agg(F.sum(F.col("w") * F.col("w")).alias("sq"))
    t1 = terms.select(F.col("gid").alias("src"), "word", F.col("w").alias("w1"))
    t2 = terms.select(F.col("gid").alias("dst_gid"), "word", F.col("w").alias("w2"))
    dots = (
        edges.withColumnRenamed("gid", "src")
        .join(t1, "src")
        .join(t2, ["dst_gid", "word"], "inner")
        .groupBy("src", "dst_gid")
        .agg(F.sum(F.col("w1") * F.col("w2")).alias("dot"))
    )
    e = (
        edges.select(F.col("gid").alias("src"), "dst_gid")
        .join(dots, ["src", "dst_gid"], "left")
        .na.fill({"dot": 0.0})
        .join(norms.withColumnRenamed("gid", "src").withColumnRenamed("sq", "sq1"), "src")
        .join(
            norms.withColumnRenamed("gid", "dst_gid").withColumnRenamed("sq", "sq2"),
            "dst_gid",
        )
    )
    return e.select(
        "src",
        F.col("dst_gid").alias("dst"),
        F.sqrt(F.greatest(F.col("sq1") + F.col("sq2") - 2 * F.col("dot"), F.lit(0.0))).alias(
            "value"
        ),
        (F.col("dot") / (F.sqrt("sq1") * F.sqrt("sq2"))).alias("angle"),
        (F.col("dst_gid") < F.col("src")).alias("propagate"),
    )


# ---------------------------------------------------------------------------
# GML text rendering (S5/G3 — golden format)
# ---------------------------------------------------------------------------


def render_gml(
    ids: DataFrame,
    terms: DataFrame,
    out_edges: DataFrame,
    central: SparseVector,
    factor: SparseVector,
    with_incomplete: bool = False,
) -> str:
    """Exact GMLStorage.dump string construction (GMLStorage.scala:33-86)."""
    out_counts = out_edges.groupBy("gid").agg(F.count("*").alias("n_out"))
    nodes_df = (
        node_annotations(terms, central, factor)
        .join(out_counts, "gid", "left")
        .na.fill({"n_out": 0})
        .join(ids.select(F.col("gid"), "url"), "gid")
        .orderBy("gid")
    )
    rows = nodes_df.collect()
    node_rows = [r for r in rows if r["n_out"] > 0 or with_incomplete]
    nodes = "\n".join(
        "\n".join(
            [
                "",
                "node",
                "[",
                f"id {r['gid']}",
                f'label "{seed_to_filename(r["url"])}"',
                f"similarity {_num(r['similarity'])}",
                f"priority {_num(r['priority'])}",
                f"dimension {r['dimension']}",
                f"length {_num(r['length'])}",
                "]",
                "",
            ]
        )
        for r in node_rows
    )
    edge_rows = edge_annotations(terms, out_edges).orderBy("src", "dst").collect()
    edges = "\n".join(
        "\n".join(
            [
                "",
                "edge",
                "[",
                f"id {i + 1}",
                f"source {r['src']}",
                f"target {r['dst']}",
                f"value {_num(r['value'])}",
                f"angle {_num(r['angle'])}",
                "exist true",
                f"propagate {'true' if r['propagate'] else 'false'}",
                "",
                "]",
                "",
            ]
        )
        for i, r in enumerate(edge_rows)
    )
    raw = "\n".join(
        ["", "graph", "[", "Creator WebCrawler", "directed 1", nodes, edges, "", "]", ""]
    )
    return "\n".join(line.strip() for line in raw.split("\n"))


# ---------------------------------------------------------------------------
# linked-vectors export (S7 — golden format)
# ---------------------------------------------------------------------------


def render_linked_vectors(gml_log: DataFrame) -> dict[str, str]:
    """LinkedVectorsStorage.scala:34-53 file set: matrix.dat (id : outlink
    ids), map.lst (id : url), <id>.dat ('%-40s : %.3f' per term). The id
    space is the sink's own RevMap over its event stream (:59-64). Returns
    {relative filename: content}."""
    ids = gml_ids(gml_log)
    events = (
        gml_log.join(ids, "url")
        .orderBy("ord")
        .select("ord", "gid", "url", "links", "terms")
        .collect()
    )
    id_map = {r["url"]: r["gid"] for r in ids.collect()}
    matrix_lines = []
    map_lines = []
    vecs: dict[int, str] = {}
    for r in events:
        out_ids = [id_map[u] for u in (r["links"] or [])]
        matrix_lines.append(f"{r['gid']} : {' '.join(str(i) for i in out_ids)}\n")
        map_lines.append(f"{r['gid']} : {r['url']}\n")
        terms = r["terms"] or {}
        vecs[r["gid"]] = "\n".join(
            f"{w:<40} : {v:.3f}" for w, v in terms.items()
        )
    files = {
        "matrix.dat": "".join(matrix_lines),
        "map.lst": "".join(map_lines),
    }
    for gid, body in vecs.items():
        files[f"{gid}.dat"] = body
    return files


# ---------------------------------------------------------------------------
# statistics (S6, A9-A12)
# ---------------------------------------------------------------------------

#: density_cloud stays exact (all ordered pairs) up to this node count;
#: larger graphs get a seeded node sample targeting ~CLOUD_SAMPLE_PAIRS
#: pairs (the reference's own estimator is Monte-Carlo here)
CLOUD_EXACT_MAX = 512
CLOUD_SAMPLE_PAIRS = 1 << 16


def compute_statistics(
    terms: DataFrame,
    out_edges: DataFrame,
    central: SparseVector,
    target_normal: SparseVector,
    factor: SparseVector,
) -> dict[str, float]:
    """A9-A12 as distributed aggregations (GMLStorage.scala:205-274).

    density_cloud: exact mean over all ordered node pairs up to
    ``CLOUD_EXACT_MAX`` nodes (approximation-free at test scale); above
    that, a seeded two-sided node sample bounds the pair count near
    ``CLOUD_SAMPLE_PAIRS`` — mirroring the reference's own Monte-Carlo
    running mean with convergence stop (:221-251). An exact O(n²)
    crossJoin at every statistics dump was the round-1 scale-killer."""
    spark = terms.sparkSession
    norms = terms.groupBy("gid").agg(F.sum(F.col("w") * F.col("w")).alias("sq"))
    unit = terms.join(norms, "gid").select(
        "gid", "word", (F.col("w") / F.sqrt("sq")).alias("nw")
    )
    n_nodes = norms.count()

    def sq_dist_pairs(pairs: DataFrame) -> DataFrame:
        """mean over pairs of ||v1n - v2n||^2 = 2 - 2*dot(n1, n2)."""
        t1 = unit.select(F.col("gid").alias("a"), "word", F.col("nw").alias("x"))
        t2 = unit.select(F.col("gid").alias("b"), "word", F.col("nw").alias("y"))
        dots = (
            pairs.join(t1, "a")
            .join(t2, ["b", "word"])
            .groupBy("a", "b")
            .agg(F.sum(F.col("x") * F.col("y")).alias("dot"))
        )
        return (
            pairs.join(dots, ["a", "b"], "left")
            .na.fill({"dot": 0.0})
            .select((F.lit(2.0) - 2 * F.col("dot")).alias("d2"))
        )

    # A9 density_net: mean over graph edges (target fetched)
    fetched = norms.select("gid")
    net_pairs = (
        out_edges.join(
            fetched.withColumnRenamed("gid", "dst_gid"), "dst_gid", "left_semi"
        )
        .select(F.col("gid").alias("a"), F.col("dst_gid").alias("b"))
    )
    row = sq_dist_pairs(net_pairs).agg(F.avg("d2").alias("m")).first()
    density_net = row["m"] if row["m"] is not None else float("nan")

    # A10 density_cloud: exact below the threshold, sampled above
    g = norms.select("gid")
    if n_nodes > CLOUD_EXACT_MAX:
        import math as _math

        frac = min(1.0, _math.sqrt(CLOUD_SAMPLE_PAIRS) / n_nodes)
        ga = g.sample(fraction=frac, seed=41).withColumnRenamed("gid", "a")
        gb = g.sample(fraction=frac, seed=43).withColumnRenamed("gid", "b")
        cloud_pairs = ga.crossJoin(gb).filter(F.col("a") != F.col("b"))
    else:
        cloud_pairs = (
            g.withColumnRenamed("gid", "a")
            .crossJoin(g.withColumnRenamed("gid", "b"))
            .filter(F.col("a") != F.col("b"))
        )
    if n_nodes > 1:
        row = sq_dist_pairs(cloud_pairs).agg(F.avg("d2").alias("m")).first()
        density_cloud = row["m"] if row["m"] is not None else 0.0
    else:
        density_cloud = 0.0

    # A11 deviations: mean ||ref.normal - v.normal||^2 = mean(refsq + 1 - 2 dot)
    def deviation(ref: SparseVector) -> float:
        rn = ref.normal
        ref_df = _vec_df(spark, rn, "rw")
        dots = (
            unit.join(F.broadcast(ref_df), "word", "left")
            .groupBy("gid")
            .agg(F.sum(F.col("nw") * F.coalesce("rw", F.lit(0.0))).alias("dot"))
        )
        refsq = sum(v * v for v in rn.d.values())
        row = dots.agg(F.avg(F.lit(refsq) + 1.0 - 2 * F.col("dot")).alias("m")).first()
        return row["m"] if row["m"] is not None else float("nan")

    # cloud average vector (A12): normalized mean of unit vectors
    avg_terms = unit.groupBy("word").agg(F.sum("nw").alias("w"))
    avg_vec = SparseVector({r["word"]: r["w"] for r in avg_terms.collect()})

    # accumulated priority (A12): mean of factor.normal . v.normal
    fn_df = _vec_df(spark, factor.normal, "fw")
    row = (
        unit.join(F.broadcast(fn_df), "word", "left")
        .groupBy("gid")
        .agg(F.sum(F.col("nw") * F.coalesce("fw", F.lit(0.0))).alias("dot"))
        .agg(F.avg("dot").alias("m"))
        .first()
    )
    acc_priority = row["m"] if row["m"] is not None else float("nan")

    return {
        "size": n_nodes,
        "density_net": density_net,
        "density_cloud": density_cloud,
        "deviation_central": deviation(central),
        "deviation_target": deviation(target_normal),
        "deviation_average": deviation(avg_vec),
        "accumulated_priority": acc_priority,
        "target_central_dev": (target_normal.normal - central.normal).sqr,
        "target_average_dev": (target_normal.normal - avg_vec.normal).sqr,
    }


def render_statistic(stats: dict[str, float]) -> str:
    """statistic.%08d.txt body (GMLStorage.scala:88-108 template)."""
    return (
        f"\nSize of Network : {stats['size']}\n"
        f"Density of Network : {_num(stats['density_net'])}\n"
        f"Density of Cloud : {_num(stats['density_cloud'])}\n"
        f"Deviation from central : {_num(stats['deviation_central'])}\n"
        f"Accumulated priority : {_num(stats['accumulated_priority'])}\n"
        f"Deviation from target : {_num(stats['deviation_target'])}\n"
        f"Deviation from average : {_num(stats['deviation_average'])}\n"
        f"target - central deviation : {_num(stats['target_central_dev'])}\n"
        f"target - average deviation : {_num(stats['target_average_dev'])}\n"
    )
