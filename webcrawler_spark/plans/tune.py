"""Offline learning + sampling jobs (SURVEY.md §2.8, §2.1 S9).

TuneVocabulary (reference: tunevocabulary/.../TuneVocabulary.scala):
learns per-word weights predicting link existence with a perceptron over
word-set intersections.

- L1 read: consumes the engine's tables directly — page word sets +
  edge list (the reference round-trips through the S7 text exports,
  readVectors/readMatrix :69-90).
- L2 sampling (:41-51): positives = linked pairs; negatives = |edges|
  uniform random id pairs anti-joined against the edge set; shuffled.
  We seed the RNG (the reference uses an unseeded scala.util.Random).
- L3 learn (:12-39): feature vector = word-set intersection (weight 1
  per word); misclassified-if (linked && net.v <= 0) or (!linked &&
  net.v > 0); net += 0.01 * sum(+-v over misclassified); per-epoch
  multiplicative decay 1e-4 toward zero (:55); keep best net by epoch
  error (:53-67).
- L4 (:100-103): 90/10 train/test split; 100k per-epoch subsample.

Spark mapping: the pair table is distributed; each epoch is two jobs —
(1) score pairs against the broadcast net (explode intersection, join,
sum per pair), (2) aggregate the misclassified delta per word
(partial+final sum). The net itself is vocab-sized driver state,
broadcast down — same tiny-state/big-data split as the crawler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webcrawler_spark.plans.frames import local_frame


def read_vectors_export(
    spark: SparkSession, root: str
) -> tuple[DataFrame, DataFrame]:
    """L1 read (readVectors/readMatrix, TuneVocabulary.scala:69-90):
    parse the S7 ``vectors/`` export file set (matrix.dat + ``<id>.dat``)
    back into (vectors, edges) DataFrames. The reference's interchange
    format is a per-node text file set, so the parse is driver-side; the
    learning itself is distributed from here on."""
    import os

    nodes: dict[int, list[str]] = {}
    with open(os.path.join(root, "matrix.dat")) as f:
        for line in f:
            parts = line.split(":")
            if len(parts) != 2:
                continue
            try:
                nid = int(parts[0].strip())
            except ValueError:
                continue
            nodes[nid] = parts[1].split()
    vec_rows: list[tuple[int, list[str]]] = []
    for nid in nodes:
        path = os.path.join(root, f"{nid}.dat")
        if not os.path.exists(path):
            continue
        words = []
        with open(path) as f:
            for ln in f:
                seg = ln.split(":")
                if len(seg) >= 2:
                    words.append(seg[0].strip())
        vec_rows.append((nid, words))
    known = {nid for nid, _ in vec_rows}
    edge_rows = [
        (nid, out)
        for nid, outs in nodes.items()
        if nid in known
        for out in (
            int(t) for t in outs if t.strip().lstrip("-").isdigit()
        )
        if out in known
    ]
    vectors = local_frame(spark, vec_rows, "id long, words array<string>")
    edges = local_frame(spark, edge_rows, "src long, dst long")
    return vectors, edges


def build_pairs(
    vectors: DataFrame, edges: DataFrame, seed: int = 42, neg_factor: float = 1.0
) -> DataFrame:
    """L2 — pair sample: (w1 array, w2 array, haslink boolean).

    ``vectors``: (id long, words array<string>); ``edges``: (src, dst),
    both endpoints must exist in vectors (readMatrix :86-89 semi-join)."""
    ids = vectors.select(F.col("id")).distinct()
    edges = (
        edges.join(ids.withColumnRenamed("id", "src"), "src", "left_semi")
        .join(ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
    )
    n_edges = edges.count()
    n_ids = ids.count()
    if n_ids == 0 or n_edges == 0:
        return local_frame(
            vectors.sparkSession, [],
            "w1 array<string>, w2 array<string>, haslink boolean, pid long",
        )
    # negatives: deterministic pseudo-random id pairs, anti-joined vs edges
    # (TuneVocabulary.scala:47 `filterNot(m contains _)` — the anti-join
    # exemplar of the reference)
    idx = ids.orderBy("id").withColumn(
        "rn", F.row_number().over(__import__("pyspark").sql.Window.orderBy("id")) - 1
    )
    cand = (
        vectors.sparkSession.range(int(n_edges * neg_factor))
        .select(
            F.col("id").alias("nid"),  # distinct draw id → unique pair id
            (F.xxhash64(F.col("id"), F.lit(seed)) % n_ids).alias("i"),
            (F.xxhash64(F.col("id"), F.lit(seed + 1)) % n_ids).alias("j"),
        )
        .select("nid", F.abs("i").alias("i"), F.abs("j").alias("j"))
    )
    cand = (
        cand.join(F.broadcast(idx).select(F.col("rn").alias("i"), F.col("id").alias("src")), "i")
        .join(F.broadcast(idx).select(F.col("rn").alias("j"), F.col("id").alias("dst")), "j")
        .select("nid", "src", "dst")
    )
    negatives = cand.join(edges, ["src", "dst"], "left_anti").withColumn(
        "haslink", F.lit(False)
    )
    positives = (
        edges.select("src", "dst")
        .withColumn("haslink", F.lit(True))
        .withColumn("nid", F.lit(-1).cast("long"))  # (src,dst) already unique
    )
    pairs = positives.unionByName(negatives)
    v1 = vectors.select(F.col("id").alias("src"), F.col("words").alias("w1"))
    v2 = vectors.select(F.col("id").alias("dst"), F.col("words").alias("w2"))
    return (
        pairs.join(v1, "src")
        .join(v2, "dst")
        # pid is a pure function of the pair's provenance (edge endpoints
        # + draw id), so the score and delta jobs in learn_epoch see the
        # SAME ids even if the frame is recomputed after cache eviction —
        # unlike monotonically_increasing_id, which renumbers per plan run
        .select(
            "w1", "w2", "haslink",
            F.xxhash64("src", "dst", "haslink", "nid").alias("pid"),
        )
        # deterministic shuffle (reference Random.shuffle :45)
        .orderBy(F.xxhash64("w1", "w2", "haslink", F.lit(seed)))
    )


def learn_epoch(
    pairs: DataFrame, net: dict[str, float]
) -> tuple[dict[str, float], int]:
    """L3 one epoch (learnstage :29-39): returns (new net, error count)."""
    spark = pairs.sparkSession
    net_b = F.broadcast(local_frame(spark, list(net.items()), "word string, nw double"))
    # pair ids must be STABLE across the two jobs below (score + delta).
    # build_pairs supplies a deterministic content/provenance pid; the
    # fallback below only serves ad-hoc callers that hand-build pairs,
    # and hashes row content so a recomputed plan yields the same ids
    feats = pairs
    if "pid" not in feats.columns:
        feats = feats.withColumn("pid", F.xxhash64("w1", "w2", "haslink"))
    feats = feats.withColumn("feat", F.array_intersect("w1", "w2"))
    scored = (
        feats.select("pid", "haslink", F.explode_outer("feat").alias("word"))
        .join(net_b, "word", "left")
        .groupBy("pid", "haslink")
        .agg(F.sum(F.coalesce("nw", F.lit(0.0))).alias("dot"))
        .withColumn(
            "mis",
            F.when(F.col("haslink"), F.col("dot") <= 0).otherwise(F.col("dot") > 0),
        )
    )
    delta_rows = (
        feats.join(scored.filter("mis").select("pid", "haslink"), ["pid", "haslink"], "left_semi")
        .select(
            F.explode("feat").alias("word"),
            F.when(F.col("haslink"), F.lit(1.0)).otherwise(F.lit(-1.0)).alias("s"),
        )
        .groupBy("word")
        .agg(F.sum("s").alias("d"))
        .collect()
    )
    err = scored.filter("mis").count()
    new_net = dict(net)
    for r in delta_rows:
        new_net[r["word"]] = new_net.get(r["word"], 0.0) + 0.01 * r["d"]
    return new_net, err


def _decay(net: dict[str, float]) -> dict[str, float]:
    """per-epoch multiplicative shrink toward 0 (:55)."""
    return {w: (v - 1e-4 * v if v > 0 else v + 1e-4 * v) for w, v in net.items() if v != 0}


def tune_vocabulary(
    vectors: DataFrame,
    edges: DataFrame,
    epochs: int = 10,
    seed: int = 42,
    epoch_sample: int = 100_000,
) -> tuple[dict[str, float], list[int]]:
    """L1-L4 end-to-end (learnprocess :53-67 + main :92-108): returns
    (best net, per-epoch error counts)."""
    pairs = build_pairs(vectors, edges, seed=seed)
    train, _test = pairs.randomSplit([0.9, 0.1], seed=seed)
    train = train.limit(epoch_sample).cache()
    n = train.count()
    net: dict[str, float] = {}
    best_net, best_err = {}, n + 1
    errs: list[int] = []
    for _ in range(epochs):
        net, err = learn_epoch(train, net)
        net = _decay(net)
        errs.append(err)
        if err == 0:
            best_net, best_err = net, 0
            break
        if err < best_err:
            best_net, best_err = net, err
    train.unpersist()
    return best_net, errs


# ---------------------------------------------------------------------------
# G4 — the `sample.main` Octave pair-matrix export
# (TuneVocabulary.scala:165-230)
# ---------------------------------------------------------------------------


def octave_sample_export(
    pairs: DataFrame,
    max_words: int = 40_000,
    seed: int = 42,
    cap: int = 500_000,
) -> dict[str, str]:
    """The reference's third Octave export: a ≤40k-word index (seeded
    shuffle — the reference's Random.shuffle at :182 is unseeded; we pin a
    hash order for reproducibility), density-filtered pair samples
    (count(v1) > 10 ∧ count(v2) > 10 ∧ count(v1∩v2) > 5, :197-199), the X
    sparse pair-feature matrix as ``i j 1`` triplets sorted by (column,
    row) (:216-218), and the Y link-label vector (:228-230). Column ids
    are 0-based exactly as the reference writes them (index.get values go
    out unshifted — bug-compatible). Returns {"index.dat", "sample.dat"}.

    Spark side: distributed word-universe + per-pair feature pass
    (mapInPandas over the broadcast index); only filtered samples — capped
    at the reference's own 500k sample bound (:100) — reach the driver
    render."""
    import pandas as pd

    spark = pairs.sparkSession
    words = pairs.select(
        F.explode(F.array_union("w1", "w2")).alias("word")
    ).distinct()
    indexed = (
        words.orderBy(F.xxhash64("word", F.lit(seed)), "word")
        .limit(max_words)
        .collect()
    )
    widx = {r["word"]: i for i, r in enumerate(indexed)}
    bc = spark.sparkContext.broadcast(widx)

    def feats(batches):
        m = bc.value
        for pdf in batches:
            out = {"ok": [], "islink": [], "inter": [], "keep": []}
            for w1, w2, hl, ok in zip(
                pdf["w1"], pdf["w2"], pdf["haslink"], pdf["ok"]
            ):
                s1 = {w for w in (w1 if w1 is not None else []) if w in m}
                s2 = {w for w in (w2 if w2 is not None else []) if w in m}
                both = s1 & s2
                out["ok"].append(int(ok))
                out["islink"].append(bool(hl))
                out["inter"].append(sorted(m[w] for w in both))
                out["keep"].append(
                    len(s1) > 10 and len(s2) > 10 and len(both) > 5
                )
            if out["ok"]:
                yield pd.DataFrame(out)

    rows = (
        pairs.withColumn("ok", F.xxhash64("w1", "w2", "haslink", F.lit(seed)))
        .mapInPandas(feats, "ok long, islink boolean, inter array<int>, keep boolean")
        .filter("keep")
        .orderBy("ok")
        .limit(cap)
        .collect()
    )
    # X: (row, col) with 1-based rows in sample order (:204 n+1)
    triplets = [(n + 1, j) for n, r in enumerate(rows) for j in r["inter"]]
    triplets.sort(key=lambda t: (t[1], t[0]))  # sortBy (col, row), :216
    index_lines = [
        f"{i:04d} : {w}" for w, i in sorted(widx.items(), key=lambda kv: kv[1])
    ]
    head = (
        "\n"
        "# Created by Octave 3.2.4, Sun Feb 16 14:54:23 2014 MSK "
        "<cray@cray-To-be-filled-by-O-E-M>\n"
        "# name: sample\n"
        "# type: struct\n"
        "# length: 2\n"
        "# name: X\n"
        "# type: cell\n"
        "# rows: 1\n"
        "# columns: 1\n"
        "# name: <cell-element>\n"
        "# type: sparse matrix\n"
        f"# nnz: {len(triplets)}\n"
        f"# rows: {len(rows)}\n"
        f"# columns: {len(widx)}\n"
    )
    body = "".join(f"{i} {j} 1\n" for i, j in triplets)
    ytail = (
        "\n"
        "# name: Y\n"
        "# type: cell\n"
        "# rows: 1\n"
        "# columns: 1\n"
        "# name: <cell-element>\n"
        "# type: matrix\n"
        f"# rows: {len(rows)}\n"
        "# columns: 1\n"
    )
    ybody = "".join("1\n" if r["islink"] else "0\n" for r in rows)
    return {
        "index.dat": "\n".join(index_lines),
        "sample.dat": head + body + ytail + ybody,
    }


# ---------------------------------------------------------------------------
# S9 — link-context sampler pivot (SampleHierarchy2Priority.scala:58-106)
# ---------------------------------------------------------------------------


def sampler_pivot(
    linkctx: DataFrame,
    priorities: DataFrame,
    min_count: int = 10,
    max_links: int | None = None,
) -> DataFrame:
    """Dense sample matrix: one row per sampled link ordered by priority,
    one column per link-context feature with global count > min_count
    (A14, :66-73,84). linkctx: (link, feature, weight);
    priorities: (link, priority).

    ``max_links`` bounds the matrix to the top-K links by priority (the
    most promising frontier slice) — at a 10^8-link frontier the full
    pivot is an unbounded driver collect at render time, so the in-loop
    cadence passes a cap, mirroring the sampled density_cloud treatment.
    The top-K is a TakeOrderedAndProject (no global sort task)."""
    counts = linkctx.groupBy("feature").agg(F.count("*").alias("n")).filter(
        F.col("n") > min_count
    )
    kept = linkctx.join(F.broadcast(counts.select("feature")), "feature", "left_semi")
    if max_links is not None:
        top = priorities.orderBy(F.desc("priority"), "link").limit(max_links)
        priorities = top
        kept = kept.join(F.broadcast(top.select("link")), "link", "left_semi")
    features = sorted(r["feature"] for r in counts.select("feature").collect())
    return (
        kept.groupBy("link")
        .pivot("feature", features)
        .sum("weight")
        .na.fill(0.0)
        .join(priorities, "link")
        .orderBy("priority", "link")
    )


def render_sample(pivoted: DataFrame) -> str:
    """Text dump in the reference's incremental format: '%8.2f : c c c...'
    per link (ascending priority), feature columns in first-seen order
    (here: pivot column order), then the feature-name legend line
    (:88-104)."""
    cols = [c for c in pivoted.columns if c not in ("link", "priority")]
    rows = pivoted.collect()
    lines = []
    for r in rows:
        vals = " ".join(f"{r[c]:2.0f}" for c in cols)
        lines.append(f"{r['priority']:8.2f} : {vals}")
        lines.append(str(len(cols)))
    lines.append(" ".join(cols))
    return "\n".join(lines) + "\n"
