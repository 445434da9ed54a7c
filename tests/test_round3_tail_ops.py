"""Ground-truth recounts for the round-3 tail registry queries (batches
18+): reuse-distance MRC, split-conformal coverage, session-timeout
sweep, MinHash signature-size error, IVF nprobe recall, pipeline token
waterfall. Pure-Python recomputation pins the SEMANTICS; Spark<->DuckDB
parity is pinned by the driver oracle (scripts/check_oracle_strict.py)."""

from __future__ import annotations

import hashlib
import math

SF = "/root/testdata/sf0.001"

_WS_TOKENS = None


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").collect()


def _toks(text: str) -> list[str]:
    return [t for t in text.lower().split() if t]


# ------------------------------------------------------- reuse_distance_mrc


def test_reuse_distance_mrc_python_sim(spark):
    from webcrawler_spark.queries import q_reuse_distance_mrc

    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("event_id", "ts", "user_id")
        .collect()
    )
    ordered = sorted(ev, key=lambda r: (r.ts, r.event_id))
    last_pos: dict[int, int] = {}
    dists = []
    for pos, r in enumerate(ordered, start=1):
        if r.user_id in last_pos:
            between = {
                q.user_id
                for q in ordered[last_pos[r.user_id] : pos - 1]
            }
            between.discard(r.user_id)
            dists.append(len(between))
        last_pos[r.user_id] = pos
    buckets: dict[int, int] = {}
    for d in dists:
        b = 0 if d == 0 else int(math.floor(math.log(d) / math.log(2.0))) + 1
        buckets[b] = buckets.get(b, 0) + 1
    got = {r.bucket: r for r in q_reuse_distance_mrc(spark, SF).collect()}
    assert {b: r.n_accesses for b, r in got.items()} == buckets
    # cumulative hit shares are monotone and end at 1000 milli
    cum = [r.hit_milli_at_next_size for r in sorted(got.values(), key=lambda r: r.bucket)]
    assert cum == sorted(cum)
    assert cum[-1] == 1000


# ----------------------------------------------- conformal_quality_threshold


def test_conformal_threshold_and_coverage_recount(spark):
    from webcrawler_spark.queries import (
        _STOPWORDS,
        q_conformal_quality_threshold,
    )

    docs = _docs(spark)
    stop = set(_STOPWORDS)

    def score(text):
        toks = _toks(text)
        if not toks:
            return 0
        return min(1000, 6000 * sum(t in stop for t in toks) // len(toks))

    cal = sorted(
        (score(d.text), d.doc_id)
        for d in docs
        if (d.doc_id // 20) % 2 == 0
    )
    ev = [score(d.text) for d in docs if (d.doc_id // 20) % 2 == 1]
    n = len(cal)
    k = -((-(n + 1) * 900) // 1000)  # exact ceil((n+1)*0.9), no float
    thr = cal[k - 1][0]
    row = q_conformal_quality_threshold(spark, SF).collect()[0]
    assert row.n_cal == n
    assert row.k_rank == k
    assert row.threshold == thr
    assert row.n_eval == len(ev)
    assert row.n_covered == sum(s <= thr for s in ev)


# --------------------------------------------------- session_timeout_sweep


def test_session_timeout_sweep_python_sessionize(spark):
    from webcrawler_spark.queries import q_session_timeout_sweep

    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("user_id", "ts", "event_id")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r)
    got = {r.timeout_min: r for r in q_session_timeout_sweep(spark, SF).collect()}
    for thr_min in (5, 15, 30, 60):
        n_sessions = 0
        n_single = 0
        for rows in by_user.values():
            rows.sort(key=lambda r: (r.ts, r.event_id))
            starts = [True] + [
                (rows[i].ts - rows[i - 1].ts).total_seconds() * 1_000_000
                > thr_min * 60_000_000
                for i in range(1, len(rows))
            ]
            n_sessions += sum(starts)
            for i, s in enumerate(starts):
                nxt = starts[i + 1] if i + 1 < len(starts) else True
                if s and nxt:
                    n_single += 1
        r = got[thr_min]
        assert r.n_sessions == n_sessions, thr_min
        assert r.n_single == n_single, thr_min
    # more patience => never more sessions
    counts = [got[t].n_sessions for t in (5, 15, 30, 60)]
    assert counts == sorted(counts, reverse=True)


# -------------------------------------------------- minhash_k_error_audit


def test_minhash_k_error_matches_python_signatures(spark):
    from webcrawler_spark.queries import _MKE_KS, _MKE_N, q_minhash_k_error_audit

    docs = _docs(spark)
    sh = {}
    for d in docs:
        toks = _toks(d.text)
        if len(toks) < _MKE_N:
            continue
        sh[d.doc_id] = {
            " ".join(toks[i : i + _MKE_N]) for i in range(len(toks) - _MKE_N + 1)
        }
    kmax = max(_MKE_KS)
    sig = {
        doc: [
            min(
                hashlib.md5((str(i) + s).encode()).hexdigest()
                for s in shingles
            )
            for i in range(kmax)
        ]
        for doc, shingles in sh.items()
    }
    pairs = []
    ids = sorted(sh)
    for ii, a in enumerate(ids):
        for b in ids[ii + 1 :]:
            inter = len(sh[a] & sh[b])
            if inter:
                pairs.append((a, b, inter))
    assert pairs, "bucketed candidates must exist on this corpus"
    true_j = {
        (a, b): inter / (len(sh[a]) + len(sh[b]) - inter)
        for a, b, inter in pairs
    }
    row = q_minhash_k_error_audit(spark, SF).collect()[0]
    assert row.n_pairs == len(pairs)
    for k in _MKE_KS:
        mae = sum(
            abs(
                sum(x == y for x, y in zip(sig[a][:k], sig[b][:k])) / k
                - true_j[(a, b)]
            )
            for a, b, _ in pairs
        ) / len(pairs)
        assert abs(getattr(row, f"mae_k{k}") - mae) < 1e-5, k
    # more hashes should not hurt on average (allow small-sample slack)
    assert row.mae_k32 <= row.mae_k8 + 0.05


# -------------------------------------------------- ivf_nprobe_recall_curve


def test_ivf_nprobe_recall_monotone_and_caps(spark):
    from webcrawler_spark.queries import q_ivf_nprobe_recall_curve

    rows = sorted(
        q_ivf_nprobe_recall_curve(spark, SF).collect(), key=lambda r: r.nprobe
    )
    assert [r.nprobe for r in rows] == [1, 2, 4]
    recalls = [r.recall_milli for r in rows]
    assert recalls == sorted(recalls)  # more cells scanned => never worse
    assert all(0 <= r <= 1000 for r in recalls)
    assert rows[0].n_queries > 0


# ------------------------------------------------ pipeline_token_waterfall


def test_pipeline_token_waterfall_python_recount(spark):
    from webcrawler_spark.queries import (
        _STOPWORDS,
        _WF_MAX_TOKS,
        _WF_MIN_TOKS,
        _WF_STOP_MILLI,
        q_pipeline_token_waterfall,
    )

    docs = _docs(spark)
    stop = set(_STOPWORDS)
    d0 = d1 = d2 = d3 = 0
    t0 = t1 = t2 = t3 = 0
    survivors = {}
    for d in docs:
        toks = _toks(d.text)
        nt = len(toks)
        d0 += 1
        t0 += nt
        p1 = _WF_MIN_TOKS <= nt <= _WF_MAX_TOKS
        p2 = p1 and 1000 * sum(t in stop for t in toks) >= _WF_STOP_MILLI * nt
        if p1:
            d1 += 1
            t1 += nt
        if p2:
            d2 += 1
            t2 += nt
            fp = hashlib.md5(d.text[:40].encode()).hexdigest()
            if fp not in survivors or d.doc_id < survivors[fp][0]:
                survivors[fp] = (d.doc_id, nt)
    d3 = len(survivors)
    t3 = sum(nt for _, nt in survivors.values())
    got = {r.stage: r for r in q_pipeline_token_waterfall(spark, SF).collect()}
    assert (got[0].docs, got[0].tokens) == (d0, t0)
    assert (got[1].docs, got[1].tokens) == (d1, t1)
    assert (got[2].docs, got[2].tokens) == (d2, t2)
    assert (got[3].docs, got[3].tokens) == (d3, t3)
