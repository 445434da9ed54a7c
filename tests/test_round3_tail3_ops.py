"""Ground-truth recounts for the session-11 control-chart queries:
the CUSUM prefix-sum rewrite vs the literal sequential recursion, the
Page-Hinkley window algebra vs its textbook update loop, and Allan
variance vs a direct block-mean recount. Pure-Python recomputation
pins the SEMANTICS; Spark<->DuckDB parity is pinned by the driver
oracle (scripts/check_oracle_strict.py)."""

from __future__ import annotations

import math
from collections import defaultdict

SF = "/root/testdata/sf0.001"


def _hourly_x(spark):
    """(hr_string, mean value) series exactly as the queries bucket it."""
    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("ts", "value")
        .collect()
    )
    acc = defaultdict(lambda: [0.0, 0])
    for r in rows:
        hr = r.ts.strftime("%Y-%m-%d %H:00:00")
        acc[hr][0] += r.value
        acc[hr][1] += 1
    return sorted((hr, s / n) for hr, (s, n) in acc.items())


# ------------------------------------------------------------- cusum_drift


def test_cusum_matches_literal_recursion(spark):
    from webcrawler_spark.queries import q_cusum_drift

    def _round_half_away(v: float) -> int:
        # Spark round() / DuckDB round() are half-away-from-zero;
        # Python round() is half-to-even
        return int(math.floor(v + 0.5)) if v >= 0 else -int(math.floor(-v + 0.5))

    series = _hourly_x(spark)
    xm = [_round_half_away(x * 1000) for _, x in series]
    mu = _round_half_away(sum(xm) / len(xm))
    mean_xm = sum(xm) / len(xm)
    sd = _round_half_away(
        math.sqrt(sum((v - mean_xm) ** 2 for v in xm) / len(xm))
    )
    k = sd // 2
    exp_pos, exp_neg = [], []
    cp = cn = 0
    for v in xm:
        cp = max(0, cp + (v - mu - k))
        cn = max(0, cn + (mu - k - v))
        exp_pos.append(cp)
        exp_neg.append(cn)

    got = sorted(q_cusum_drift(spark, SF).collect(), key=lambda r: r.hr)
    assert [r.hr for r in got] == [hr for hr, _ in series]
    assert [r.cusum_pos_milli for r in got] == exp_pos
    assert [r.cusum_neg_milli for r in got] == exp_neg
    h = 4 * sd
    assert [r.alarm_pos for r in got] == [int(c > h) for c in exp_pos]
    assert [r.alarm_neg for r in got] == [int(c > h) for c in exp_neg]


# ------------------------------------------------------ page_hinkley_drift


def test_page_hinkley_matches_textbook_update(spark):
    from webcrawler_spark.queries import q_page_hinkley_drift

    series = _hourly_x(spark)
    xs = [x for _, x in series]
    mu = sum(xs) / len(xs)
    sd = math.sqrt(sum((v - mu) ** 2 for v in xs) / len(xs))
    delta = sd / 20
    m_inc = m_dec = 0.0
    run_min = math.inf
    run_max = -math.inf
    exp_inc, exp_dec = [], []
    s = 0.0
    for i, v in enumerate(xs, start=1):
        s += v
        xbar = s / i
        m_inc += v - xbar - delta
        m_dec += v - xbar + delta
        run_min = min(run_min, m_inc)
        run_max = max(run_max, m_dec)
        exp_inc.append(m_inc - min(0.0, run_min))
        exp_dec.append(max(0.0, run_max) - m_dec)

    got = sorted(q_page_hinkley_drift(spark, SF).collect(), key=lambda r: r.hr)
    assert [r.hr for r in got] == [hr for hr, _ in series]
    for r, ei, ed in zip(got, exp_inc, exp_dec):
        assert abs(r.ph_inc - ei) < 1e-5, (r.hr, r.ph_inc, ei)
        assert abs(r.ph_dec - ed) < 1e-5, (r.hr, r.ph_dec, ed)
    lam = 4 * sd
    for r, ei, ed in zip(got, exp_inc, exp_dec):
        assert r.alarm_inc == int(ei > lam)
        assert r.alarm_dec == int(ed > lam)


# ---------------------------------------------------- allan_variance_hours


def test_allan_variance_matches_block_recount(spark):
    from webcrawler_spark.queries import q_allan_variance_hours

    from datetime import datetime, timedelta

    rows = spark.read.parquet(f"{SF}/events.parquet").select("ts").collect()
    # parquet TIMESTAMP_NTZ as naive UTC: epoch hours via calendar math
    epoch = datetime(1970, 1, 1)
    hs = [int((r.ts - epoch) // timedelta(hours=1)) for r in rows]
    h0, h1 = min(hs), max(hs)
    y = [0] * (h1 - h0 + 1)
    for h in hs:
        y[h - h0] += 1

    got = {r.tau_hours: r for r in q_allan_variance_hours(spark, SF).collect()}
    for tau in (1, 2, 4, 8, 16):
        nb = len(y) // tau
        ybar = [sum(y[b * tau : (b + 1) * tau]) / tau for b in range(nb)]
        diffs = [(ybar[b + 1] - ybar[b]) ** 2 for b in range(nb - 1)]
        av = sum(diffs) / len(diffs) / 2
        r = got[tau]
        assert r.n_pairs == len(diffs)
        assert abs(r.allan_var - av) < 1e-5, (tau, r.allan_var, av)
        assert abs(r.allan_dev - math.sqrt(av)) < 1e-5
    # white (Poisson) arrivals: Allan variance of the MEAN over tau
    # decays ~1/tau — the 16h value must sit well below the 1h value
    assert got[16].allan_var < got[1].allan_var / 4


# ------------------------------------------------------ cliffs_delta_pairs


def test_cliffs_delta_matches_literal_pairwise_count(spark):
    from webcrawler_spark.queries import q_cliffs_delta_pairs

    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("event_type", "value")
        .collect()
    )
    by_type = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(r.value)
    got = {
        (r.type_a, r.type_b): r
        for r in q_cliffs_delta_pairs(spark, SF).collect()
    }
    types = sorted(by_type)
    assert len(got) == len(types) * (len(types) - 1) // 2
    for i, a in enumerate(types):
        for b in types[i + 1 :]:
            gt = lt = 0
            for x in by_type[a]:
                for y in by_type[b]:
                    gt += x > y
                    lt += x < y
            delta = (gt - lt) / (len(by_type[a]) * len(by_type[b]))
            r = got[(a, b)]
            assert r.n1 == len(by_type[a]) and r.n2 == len(by_type[b])
            assert abs(r.delta - delta) < 1e-5, (a, b, r.delta, delta)
            mag = (
                "negligible" if abs(delta) < 0.147
                else "small" if abs(delta) < 0.33
                else "medium" if abs(delta) < 0.474
                else "large"
            )
            assert r.magnitude == mag


# --------------------------------------------------- brown_forsythe_levene


def test_brown_forsythe_matches_direct_anova_on_deviations(spark):
    from webcrawler_spark.queries import q_brown_forsythe_levene

    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("event_id", "event_type", "value")
        .collect()
    )
    by_type = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append((r.value, r.event_id))
    z_by = {}
    for t, vals in by_type.items():
        ordered = sorted(vals)
        med = ordered[(len(ordered) + 1) // 2 - 1][0]  # lower median
        z_by[t] = [abs(v - med) for v, _ in vals]
    k = len(z_by)
    n = sum(len(z) for z in z_by.values())
    zbar = sum(sum(z) for z in z_by.values()) / n
    ssb = sum(
        len(z) * (sum(z) / len(z) - zbar) ** 2 for z in z_by.values()
    )
    ssw = sum(
        sum((v - sum(z) / len(z)) ** 2 for v in z) for z in z_by.values()
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    r = q_brown_forsythe_levene(spark, SF).collect()[0]
    assert (r.k, r.n, r.df1, r.df2) == (k, n, k - 1, n - k)
    assert abs(r.f_stat - f) < 1e-4
    assert abs(r.eta_sq - ssb / (ssb + ssw)) < 1e-6


# ----------------------------------------------------- atkinson_inequality


def test_atkinson_matches_closed_form(spark):
    from webcrawler_spark.queries import q_atkinson_inequality

    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("user_id")
        .collect()
    )
    counts = defaultdict(int)
    for r in rows:
        counts[r.user_id] += 1
    xs = list(counts.values())
    mu = sum(xs) / len(xs)
    got = {r.epsilon: r for r in q_atkinson_inequality(spark, SF).collect()}
    for eps in (0.5, 1.0, 2.0):
        if eps == 1.0:
            a = 1 - math.exp(sum(math.log(x) for x in xs) / len(xs)) / mu
        else:
            m = sum(x ** (1 - eps) for x in xs) / len(xs)
            a = 1 - m ** (1 / (1 - eps)) / mu
        r = got[eps]
        assert r.n_users == len(xs)
        assert abs(r.atkinson - a) < 1e-6, (eps, r.atkinson, a)
        assert abs(r.ede_events - (1 - a) * mu) < 1e-4
    # aversion ordering: A is nondecreasing in epsilon
    assert got[0.5].atkinson <= got[1.0].atkinson <= got[2.0].atkinson


# ------------------------------------------------------- textrank_keywords


def test_textrank_matches_literal_power_iteration(spark):
    from webcrawler_spark.queries import q_textrank_keywords

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    stop = {"the", "a", "of", "and", "in", "is", "to", "for"}
    cands = [
        [
            t
            for t in d.text.lower().split()
            if t and len(t) >= 4 and t not in stop
        ]
        for d in docs
    ]
    cnt = defaultdict(int)
    for c in cands:
        for w in c:
            cnt[w] += 1
    nodes_adm = {w for w, c in cnt.items() if c >= 10}
    w = defaultdict(float)
    for c in cands:
        for a, b in zip(c, c[1:]):
            if a != b and a in nodes_adm and b in nodes_adm:
                w[(a, b)] += 1.0
                w[(b, a)] += 1.0
    nodes = sorted({a for a, _ in w})
    wtot = defaultdict(float)
    for (a, _b), v in w.items():
        wtot[a] += v
    ws = {v: 1.0 for v in nodes}
    for _ in range(3):
        nxt = {}
        for v in nodes:
            s = sum(
                w[(u, v)] / wtot[u] * ws[u]
                for u in nodes
                if (u, v) in w
            )
            nxt[v] = 0.15 + 0.85 * s
        ws = nxt

    got = {r.word: r.textrank for r in q_textrank_keywords(spark, SF).collect()}
    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - ws[v]) < 1e-5, (v, got[v], ws[v])


# ----------------------------------------------------------------- err_at10


def test_err_at10_matches_literal_cascade(spark):
    from webcrawler_spark.queries import q_err_at10

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    stop = {"the", "a", "of", "and", "in", "is", "to", "for"}
    per_q = defaultdict(list)
    for d in docs:
        toks = [t for t in d.text.lower().split() if t]
        score = min(
            1000, 6000 * sum(t in stop for t in toks) // max(1, len(toks))
        )
        gain = min(3, d.n_chars // 1000)
        per_q[d.doc_id % 20].append((-score, d.doc_id, gain))
    got = {r.qid: r for r in q_err_at10(spark, SF).collect()}
    for qid, lst in per_q.items():
        lst.sort()
        err = 0.0
        trail = 1.0
        nano = 0
        for r, (_, _, g) in enumerate(lst[:10], start=1):
            rr = (2**g - 1) / 16.0
            nano += math.floor(1e9 * rr * trail / r)
            err += rr * trail / r
            trail *= 1 - rr
        row = got[qid]
        assert row.n_ranked == min(10, len(lst))
        assert row.err_nano == nano, (qid, row.err_nano, nano)
        assert abs(row.err - err) < 1e-5
        # cascade metric is bounded by 1
        assert 0.0 <= row.err <= 1.0


# ------------------------------------------------------------ cochran_q_test


def test_cochran_q_matches_direct_formula(spark):
    from webcrawler_spark.queries import q_cochran_q_test

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    stop = {"the", "a", "of", "and", "in", "is", "to", "for"}
    rows = []
    for d in docs:
        toks = [t for t in d.text.lower().split() if t]
        score = min(
            1000, 6000 * sum(t in stop for t in toks) // max(1, len(toks))
        )
        rows.append(
            (int(d.n_chars > 2000), int(score >= 150), int(d.lang == "en"))
        )
    c = [sum(r[j] for r in rows) for j in range(3)]
    t = sum(c)
    rsq = sum((r[0] + r[1] + r[2]) ** 2 for r in rows)
    q = 2.0 * (3 * sum(x * x for x in c) - t * t) / (3 * t - rsq)
    r = q_cochran_q_test(spark, SF).collect()[0]
    assert (r.n_docs, r.c1, r.c2, r.c3) == (len(rows), c[0], c[1], c[2])
    assert abs(r.q_stat - q) < 1e-5
    assert abs(r.p_value - math.exp(-q / 2)) < 1e-6
    assert r.reject_5pct == int(q > 5.991)


# ------------------------------------------------------- oph_minhash_audit


def test_oph_matches_literal_simulation(spark):
    import hashlib

    from webcrawler_spark.queries import q_oph_minhash_audit

    K = 16
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    sets, src = {}, {}
    for d in docs:
        toks = {t for t in d.text.lower().split() if t}
        if toks:
            sets[d.doc_id] = toks
            src[d.doc_id] = d.source

    def sig(toks):
        buckets = {}
        for t in toks:
            hv = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
            b, v = hv % K, hv // K
            buckets[b] = min(buckets.get(b, v), v)
        out = []
        for j in range(K):
            # nearest non-empty clockwise (distance (b - j) mod K minimal)
            best = min(buckets.items(), key=lambda kv: (kv[0] - j) % K)
            out.append(best[1])
        return out

    sigs = {i: sig(s) for i, s in sets.items()}
    agg = defaultdict(lambda: [0, 0, 0, 0])  # n, sum_exact, sum_est, sum_abs
    ids = sorted(sets)
    for a in ids:
        for b in ids:
            if a < b and src[a] == src[b]:
                c = len(sets[a] & sets[b])
                je = 1000 * c // (len(sets[a]) + len(sets[b]) - c)
                m = sum(x == y for x, y in zip(sigs[a], sigs[b]))
                js = 1000 * m // K
                dec = min(9, je // 100)
                agg[dec][0] += 1
                agg[dec][1] += je
                agg[dec][2] += js
                agg[dec][3] += abs(js - je)

    got = {r.j_decile: r for r in q_oph_minhash_audit(spark, SF).collect()}
    assert set(got) == set(agg)
    for dec, (n, se, ss, sa) in agg.items():
        r = got[dec]
        assert r.n_pairs == n
        assert abs(r.mean_exact_milli - se / n) < 1e-6
        assert abs(r.mean_est_milli - ss / n) < 1e-6
        assert abs(r.mae_milli - sa / n) < 1e-6


# -------------------------------------------------------- em_gaussian_step


def test_em_step_matches_closed_form(spark):
    from webcrawler_spark.queries import q_em_gaussian_step

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    ys = sorted(
        (math.log(len([t for t in d.text.lower().split() if t])), d.doc_id)
        for d in docs
        if [t for t in d.text.lower().split() if t]
    )
    vals = [y for y, _ in ys]
    n = len(vals)
    mu1 = vals[max(1, n // 4) - 1]
    mu2 = vals[min(n, (3 * n) // 4) - 1]
    mean = sum(vals) / n
    sd0 = math.sqrt(sum((v - mean) ** 2 for v in vals) / n)
    r2 = [
        1.0
        / (1.0 + math.exp(((y - mu2) ** 2 - (y - mu1) ** 2) / (2 * sd0 * sd0)))
        for y in vals
    ]
    pi2 = sum(r2) / n
    m1 = sum((1 - r) * y for r, y in zip(r2, vals)) / sum(1 - r for r in r2)
    m2 = sum(r * y for r, y in zip(r2, vals)) / sum(r2)
    got = q_em_gaussian_step(spark, SF).collect()[0]
    assert got.n == n
    assert abs(got.mu1_init - mu1) < 1e-6
    assert abs(got.mu2_init - mu2) < 1e-6
    assert abs(got.pi2_new - pi2) < 1e-6
    assert abs(got.mu1_new - m1) < 1e-5
    assert abs(got.mu2_new - m2) < 1e-5
    # one EM step must keep the component order and stay inside the hull
    assert got.mu1_new < got.mu2_new
    assert min(vals) <= got.mu1_new <= max(vals)


# ------------------------------------------------------ dft_seasonal_power


def test_dft_power_matches_direct_projection(spark):
    from datetime import datetime, timedelta

    from webcrawler_spark.queries import q_dft_seasonal_power

    rows = spark.read.parquet(f"{SF}/events.parquet").select("ts").collect()
    epoch = datetime(1970, 1, 1)
    counts = defaultdict(int)
    for r in rows:
        counts[int((r.ts - epoch) // timedelta(hours=1))] += 1
    h0 = min(counts)
    ys = [(h - h0, c) for h, c in sorted(counts.items())]
    n = len(ys)
    ybar = sum(c for _, c in ys) / n
    got = {r.period_hours: r for r in q_dft_seasonal_power(spark, SF).collect()}
    for p in (12, 24, 168):
        c = sum((y - ybar) * math.cos(2 * math.pi * i / p) for i, y in ys)
        s = sum((y - ybar) * math.sin(2 * math.pi * i / p) for i, y in ys)
        ss = sum((y - ybar) ** 2 for _, y in ys)
        r = got[p]
        assert r.n == n
        assert abs(r.amplitude - 2 * math.sqrt(c * c + s * s) / n) < 1e-5
        assert abs(r.variance_frac - 2 * (c * c + s * s) / (n * ss)) < 1e-5
        assert 0.0 <= r.variance_frac <= 1.0 + 1e-9


# --------------------------------------------------- pacf_durbin_levinson


def test_pacf_matches_durbin_levinson_recursion(spark):
    from webcrawler_spark.queries import q_pacf_durbin_levinson

    xs = [x for _, x in _hourly_x(spark)]
    n = len(xs)
    xbar = sum(xs) / n
    dx = [x - xbar for x in xs]
    den = sum(d * d for d in dx)
    rho = [
        sum(dx[t] * dx[t - k] for t in range(k, n)) / den for k in (1, 2, 3)
    ]
    # general Durbin-Levinson, as an independent check on the closed forms
    phi = {1: {1: rho[0]}}
    for k in (2, 3):
        prev = phi[k - 1]
        num = rho[k - 1] - sum(prev[j] * rho[k - 1 - j] for j in range(1, k))
        dnm = 1 - sum(prev[j] * rho[j - 1] for j in range(1, k))
        phi[k] = {k: num / dnm}
        for j in range(1, k):
            phi[k][j] = prev[j] - phi[k][k] * prev[k - j]
    got = {r.lag: r for r in q_pacf_durbin_levinson(spark, SF).collect()}
    for k in (1, 2, 3):
        assert abs(got[k].acf - rho[k - 1]) < 1e-5
        assert abs(got[k].pacf - phi[k][k]) < 1e-5, (k, got[k].pacf, phi[k][k])


# --------------------------------------------- mahalanobis_diag_outliers


def test_mahalanobis_p_matches_chi2_series_and_scipyless_sanity(spark):
    from webcrawler_spark.queries import q_mahalanobis_diag_outliers

    vecs = {
        r.vec_id: [float(v) for v in r.embedding]
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    }
    dim = len(next(iter(vecs.values())))
    assert dim == 64
    n = len(vecs)
    mu = [sum(v[d] for v in vecs.values()) / n for d in range(dim)]
    sd = [
        math.sqrt(sum((v[d] - mu[d]) ** 2 for v in vecs.values()) / n)
        for d in range(dim)
    ]
    got = {r.vec_id: r for r in q_mahalanobis_diag_outliers(spark, SF).collect()}
    assert set(got) == set(vecs)
    for vid, v in vecs.items():
        x = sum(((v[d] - mu[d]) / sd[d]) ** 2 for d in range(dim))
        p = math.exp(-x / 2) * sum(
            (x / 2) ** j / math.factorial(j) for j in range(32)
        )
        r = got[vid]
        assert abs(r.maha_sq - x) < 1e-4, (vid, r.maha_sq, x)
        assert abs(r.p_value - p) < 1e-5
        assert r.outlier == int(p < 0.001)
    # standardized scores: mean of maha_sq over vecs must be ~dim
    mean_x = sum(r.maha_sq for r in got.values()) / n
    assert abs(mean_x - dim) < 1.0


# ----------------------------------------------------- little_law_audit


def test_little_law_matches_literal_sweep(spark):
    from webcrawler_spark.queries import q_little_law_audit

    from datetime import datetime

    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("ts", "value")
        .collect()
    )
    epoch = datetime(1970, 1, 1)

    def us(ts):
        return int((ts - epoch).total_seconds() * 1e6 + 0.5)

    iv = []
    for r in rows:
        s = us(r.ts)
        d = int(math.floor(r.value * 1e6 + 0.5))
        iv.append((s, s + d))
    t0 = min(s for s, _ in iv)
    t1 = max(s for s, _ in iv)
    busy_total = sum(e - s for s, e in iv)
    censored = sum(e > t1 for _, e in iv)
    busy_in = sum(min(e, t1) - s for s, e in iv)
    # literal sweep
    deltas = defaultdict(int)
    for s, e in iv:
        deltas[s] += 1
        deltas[min(e, t1)] -= 1
    ts_sorted = sorted(deltas)
    area = 0
    conc = 0
    for a, b in zip(ts_sorted, ts_sorted[1:]):
        conc += deltas[a]
        area += conc * (b - a)
    r = q_little_law_audit(spark, SF).collect()[0]
    assert r.n == len(iv)
    assert r.l_timeavg_milli == 1000 * area // (t1 - t0)
    assert r.l_littles_milli == 1000 * busy_total // (t1 - t0)
    assert r.n_censored == censored
    assert r.l_clipped_milli == 1000 * busy_in // (t1 - t0)
    # clipped busy time IS the sweep area (same integral, two routes)
    assert area == busy_in


# ------------------------------------------------------------ newey_west_se


def test_newey_west_matches_direct_hac_sum(spark):
    from webcrawler_spark.queries import q_newey_west_se

    xs = [x for _, x in _hourly_x(spark)]
    n = len(xs)
    xbar = sum(xs) / n
    dx = [x - xbar for x in xs]
    g = [
        sum(dx[t] * dx[t - k] for t in range(k, n)) / n for k in range(25)
    ]
    var_hac = g[0] + 2 * sum((1 - k / 25) * g[k] for k in range(1, 25))
    r = q_newey_west_se(spark, SF).collect()[0]
    assert r.n == n
    assert abs(r.mean_value - xbar) < 1e-6
    assert abs(r.se_iid - math.sqrt(g[0] / n)) < 1e-6
    assert abs(r.se_hac - math.sqrt(var_hac / n)) < 1e-6
    assert abs(r.inflation - math.sqrt(var_hac / g[0])) < 1e-5
    assert abs(r.n_effective - n * g[0] / var_hac) < 1e-2
    # HAC variance must stay positive and finite
    assert r.se_hac > 0


# ---------------------------------------------------- seasonal_mann_kendall


def test_seasonal_mk_matches_literal_pair_signs(spark):
    from datetime import datetime, timedelta

    from webcrawler_spark.queries import q_seasonal_mann_kendall

    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("ts", "value")
        .collect()
    )
    epoch = datetime(1970, 1, 1)
    acc = defaultdict(lambda: [0.0, 0])
    for r in rows:
        h = int((r.ts - epoch) // timedelta(hours=1))
        acc[h][0] += r.value
        acc[h][1] += 1
    per_season = defaultdict(list)
    for h in sorted(acc):
        per_season[h % 24].append((h // 24, acc[h][0] / acc[h][1]))
    s_total = 0
    var_total = 0
    for vals in per_season.values():
        vals.sort()
        ns = len(vals)
        var_total += ns * (ns - 1) * (2 * ns + 5) // 18
        for i in range(ns):
            for j in range(i + 1, ns):
                d = vals[j][1] - vals[i][1]
                s_total += (d > 0) - (d < 0)
    if s_total > 0:
        z = (s_total - 1) / math.sqrt(var_total)
    elif s_total < 0:
        z = (s_total + 1) / math.sqrt(var_total)
    else:
        z = 0.0
    r = q_seasonal_mann_kendall(spark, SF).collect()[0]
    assert r.n_seasons == len(per_season)
    assert r.s_total == s_total
    assert r.var_total == var_total
    assert abs(r.z - z) < 1e-6
    assert r.trend == (
        "increasing" if s_total > 0 else "decreasing" if s_total < 0 else "none"
    )
    # p from the erf polynomial is within its documented 1.5e-7 of math.erf
    p = 1.0 - math.erf(abs(z) / math.sqrt(2))
    assert abs(r.p_two_sided - p) < 1e-5


# ------------------------------------------------------ coreset_sensitivity


def test_coreset_weights_sum_to_one_and_match_formula(spark):
    from webcrawler_spark.queries import q_coreset_sensitivity

    rows = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    vecs = [(r.vec_id, r.label, [float(v) for v in r.embedding]) for r in rows]
    dim = len(vecs[0][2])
    n = len(vecs)
    mu = [sum(v[d] for _, _, v in vecs) / n for d in range(dim)]
    d2 = {
        vid: sum((v[d] - mu[d]) ** 2 for d in range(dim))
        for vid, _, v in vecs
    }
    sum_d2 = sum(d2.values())
    by_label = defaultdict(list)
    for vid, lab, _ in vecs:
        by_label[lab].append(0.5 / n + d2[vid] / (2 * sum_d2))
    got = {r.label: r for r in q_coreset_sensitivity(spark, SF).collect()}
    assert set(got) == set(by_label)
    total_q = 0.0
    for lab, qs in by_label.items():
        r = got[lab]
        assert r.n_vecs == len(qs)
        assert abs(r.sum_q - sum(qs)) < 1e-5
        assert abs(r.max_q - max(qs)) < 1e-6
        total_q += r.sum_q
    # q is a probability distribution over the corpus
    assert abs(total_q - 1.0) < 1e-4


# ----------------------------------------------------- adjusted_rand_index


def test_ari_matches_literal_pair_counting(spark):
    from webcrawler_spark.queries import q_adjusted_rand_index

    rows = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    vecs = [(r.vec_id, r.label, [float(v) for v in r.embedding]) for r in rows]
    dim = len(vecs[0][2])
    by_label = defaultdict(list)
    for _, lab, v in vecs:
        by_label[lab].append(v)
    cent = {
        lab: [sum(v[d] for v in vs) / len(vs) for d in range(dim)]
        for lab, vs in by_label.items()
    }
    nij = defaultdict(int)
    for _, lab, v in vecs:
        best = min(
            cent.items(),
            key=lambda kv: (
                sum((v[d] - kv[1][d]) ** 2 for d in range(dim)),
                kv[0],
            ),
        )[0]
        nij[(lab, best)] += 1

    def c2(x):
        return x * (x - 1) // 2

    n = sum(nij.values())
    sij = sum(c2(v) for v in nij.values())
    a = defaultdict(int)
    b = defaultdict(int)
    for (la, as_), v in nij.items():
        a[la] += v
        b[as_] += v
    sa = sum(c2(v) for v in a.values())
    sb = sum(c2(v) for v in b.values())
    exp = sa * sb / c2(n)
    ari = (sij - exp) / ((sa + sb) / 2 - exp)
    r = q_adjusted_rand_index(spark, SF).collect()[0]
    assert (r.n, r.sij, r.sa, r.sb) == (n, sij, sa, sb)
    assert abs(r.ari - ari) < 1e-6
    # centroid assignment beats chance (ARI ~ 0 under random labels);
    # the sf0.001 embeddings carry only a weak label signal, so the bar
    # is above-zero, not high-recovery
    assert 0.0 < r.ari <= 1.0


# --------------------------------------------------------- huber_irls_step


def test_huber_step_matches_literal_weights(spark):
    from webcrawler_spark.queries import q_huber_irls_step

    xs = [
        r.value
        for r in spark.read.parquet(f"{SF}/events.parquet").select("value").collect()
    ]
    n = len(xs)
    mu0 = sum(xs) / n
    sd = math.sqrt(sum((x - mu0) ** 2 for x in xs) / n)
    c = 1.345 * sd
    ws = [min(1.0, c / max(abs(x - mu0), 1e-300)) for x in xs]
    mu1 = sum(w * x for w, x in zip(ws, xs)) / sum(ws)
    r = q_huber_irls_step(spark, SF).collect()[0]
    assert r.n == n
    assert abs(r.mu0 - mu0) < 1e-6
    assert abs(r.mu1 - mu1) < 1e-5
    assert abs(r.sum_w - sum(ws)) < 1e-4
    assert r.n_downweighted == sum(w < 1.0 for w in ws)
    # a heavy right tail pulls the plain mean above the huberized one
    assert r.mu1 != r.mu0


# ------------------------------------------------- event_mix_overdispersion


def test_overdispersion_matches_share_variance(spark):
    from datetime import datetime, timedelta

    from webcrawler_spark.queries import q_event_mix_overdispersion

    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("ts", "event_type")
        .collect()
    )
    epoch = datetime(1970, 1, 1)
    daily = defaultdict(lambda: defaultdict(int))
    for r in rows:
        daily[int((r.ts - epoch) // timedelta(days=1))][r.event_type] += 1
    types = sorted({t for d in daily.values() for t in d})
    got = {r.event_type: r for r in q_event_mix_overdispersion(spark, SF).collect()}
    for t in types:
        ps, nts = [], []
        for day, cnts in daily.items():
            nt = sum(cnts.values())
            if cnts.get(t, 0) > 0:
                ps.append(cnts[t] / nt)
                nts.append(nt)
        pbar = sum(ps) / len(ps)
        s2 = sum((p - pbar) ** 2 for p in ps) / len(ps)
        nbar = sum(nts) / len(nts)
        r = got[t]
        assert r.n_days == len(ps)
        assert abs(r.p_bar - pbar) < 1e-6
        assert abs(r.var_daily_share - s2) < 1e-6
        assert abs(r.inflation - s2 / (pbar * (1 - pbar) / nbar)) < 1e-4


# -------------------------------------------------------------- lof_outliers


def test_lof_matches_literal_breunig_definition(spark):
    from webcrawler_spark.queries import q_lof_outliers

    K = 5
    rows = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    by_label = defaultdict(dict)
    for r in rows:
        by_label[r.label][r.vec_id] = [float(v) for v in r.embedding]

    def dist(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    kdist, knn = {}, {}
    for lab, pts in by_label.items():
        for i, v in pts.items():
            ds = sorted(
                (dist(v, w), j) for j, w in pts.items() if j != i
            )[:K]
            knn[i] = [j for _, j in ds]
            kdist[i] = ds[-1][0]
    lrd = {}
    for lab, pts in by_label.items():
        for i in pts:
            reach = [
                max(kdist[j], dist(pts[i], pts[j])) for j in knn[i]
            ]
            lrd[i] = K / sum(reach)
    got = {r.vec_id: r for r in q_lof_outliers(spark, SF).collect()}
    assert set(got) == set(lrd)
    for i in lrd:
        lof = sum(lrd[j] for j in knn[i]) / K / lrd[i]
        r = got[i]
        assert abs(r.kdist - kdist[i]) < 1e-5
        assert abs(r.lrd - lrd[i]) < 1e-4 * lrd[i] + 1e-6
        assert abs(r.lof - lof) < 1e-4, (i, r.lof, lof)
    # LOF of a uniform-ish cloud concentrates near 1
    med = sorted(r.lof for r in got.values())[len(got) // 2]
    assert 0.8 < med < 1.5


# -------------------------------------------------------- hopkins_statistic


def test_hopkins_matches_literal_probe_scan(spark):
    import hashlib

    from webcrawler_spark.queries import q_hopkins_statistic

    rows = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    vecs = {r.vec_id: [float(v) for v in r.embedding] for r in rows}
    dim = len(next(iter(vecs.values())))
    mins = [min(v[d] for v in vecs.values()) for d in range(dim)]
    maxs = [max(v[d] for v in vecs.values()) for d in range(dim)]

    def probe(pid):
        out = []
        for d in range(dim):
            h = int(
                hashlib.md5(f"{pid}_{d}".encode()).hexdigest()[:8], 16
            )
            out.append(mins[d] + h / 4294967296.0 * (maxs[d] - mins[d]))
        return out

    def nn(p, exclude=None):
        return min(
            math.sqrt(sum((a - b) ** 2 for a, b in zip(p, v)))
            for j, v in vecs.items()
            if j != exclude
        )

    sum_u = sum(nn(probe(i)) for i in range(50))
    sample = [i for i in sorted(vecs) if i % 10 == 0]
    sum_w = sum(nn(vecs[i], exclude=i) for i in sample)
    r = q_hopkins_statistic(spark, SF).collect()[0]
    assert r.n_probes == 50
    assert r.n_sample == len(sample)
    assert abs(r.sum_probe_nn - sum_u) < 1e-3
    assert abs(r.sum_sample_nn - sum_w) < 1e-3
    assert abs(r.hopkins - sum_u / (sum_u + sum_w)) < 1e-5
    # uniform probes sit farther from data than data sits from itself
    # whenever there is ANY clustering structure; hopkins in (0, 1)
    assert 0.0 < r.hopkins < 1.0


# ------------------------------------------------ segmented_regression_break


def test_segmented_break_matches_naive_per_breakpoint_refit(spark):
    from webcrawler_spark.queries import q_segmented_regression_break

    def _round_half_away(v):
        return int(math.floor(v + 0.5)) if v >= 0 else -int(math.floor(-v + 0.5))

    series = [_round_half_away(x * 1000) for _, x in _hourly_x(spark)]
    n = len(series)

    def sse(seg, off):
        m = len(seg)
        si = sum(i + off for i in range(m))
        sy = sum(seg)
        sii = sum((i + off) ** 2 for i in range(m))
        siy = sum((i + off) * y for i, y in enumerate(seg))
        syy = sum(y * y for y in seg)
        sxx = sii - si * si / m
        sxy = siy - si * sy / m
        return syy - sy * sy / m - sxy * sxy / sxx, sxy / sxx

    best = None
    for b in range(24, n - 24 + 1):
        sl, slope_l = sse(series[:b], 1)
        sr, slope_r = sse(series[b:], b + 1)
        if best is None or sl + sr < best[1] - 1e-9:
            best = (b, sl + sr, slope_l, slope_r)
    sp, _ = sse(series, 1)
    r = q_segmented_regression_break(spark, SF).collect()[0]
    assert r.n == n
    assert r.break_hour_index == best[0], (r.break_hour_index, best[0])
    assert abs(r.sse_split - best[1]) < max(1e-3, 1e-9 * abs(best[1]))
    assert abs(r.sse_pooled - sp) < max(1e-3, 1e-9 * abs(sp))
    assert abs(r.slope_left_milli_per_h - best[2]) < 1e-4
    assert abs(r.slope_right_milli_per_h - best[3]) < 1e-4
    chow = ((sp - best[1]) / 2) / (best[1] / (n - 4))
    assert abs(r.chow_f - chow) < 1e-4


# --------------------------------------------------- horvitz_thompson_total


def test_ht_matches_literal_pps_sample(spark):
    import hashlib

    from webcrawler_spark.queries import q_horvitz_thompson_total

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    ys = {
        d.doc_id: len([t for t in d.text.lower().split() if t]) for d in docs
    }
    total = sum(ys.values())
    ht = 0.0
    n_sampled = 0
    for did, y in ys.items():
        pi = min(1.0, 100.0 * y / total)
        u = int(hashlib.md5(str(did).encode()).hexdigest()[:8], 16) / 2**32
        if u < pi:
            n_sampled += 1
            ht += y / pi
    r = q_horvitz_thompson_total(spark, SF).collect()[0]
    assert (r.n_docs, r.true_total, r.n_sampled) == (
        len(ys),
        total,
        n_sampled,
    )
    assert abs(r.ht_total - ht) < 1e-3
    assert abs(r.rel_err_milli - abs(ht - total) / total * 1000) < 1e-3
    # HT is unbiased; on this draw it must land within 25% of truth
    assert abs(ht - total) / total < 0.25


# ------------------------------------------------- jackknife_ratio_variance


def test_jackknife_matches_literal_leave_one_out(spark):
    from webcrawler_spark.queries import q_jackknife_ratio_variance

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    pairs = [
        (len([t for t in d.text.lower().split() if t]), d.n_chars)
        for d in docs
    ]
    ty = sum(y for y, _ in pairs)
    tx = sum(x for _, x in pairs)
    n = len(pairs)
    reps = [(ty - y) / (tx - x) for y, x in pairs]
    rbar = sum(reps) / n
    var_j = (n - 1) / n * sum((r - rbar) ** 2 for r in reps)
    ratio = ty / tx
    resid_ss = sum((y - ratio * x) ** 2 for y, x in pairs)
    var_l = resid_ss * n / (n - 1) / tx**2
    r = q_jackknife_ratio_variance(spark, SF).collect()[0]
    assert r.n == n
    assert abs(r.ratio - ratio) < 1e-6
    assert abs(r.se_jackknife - math.sqrt(var_j)) < 1e-6
    assert abs(r.se_linearized - math.sqrt(var_l)) < 1e-6
    # for a smooth ratio the two variance routes agree to ~O(1/n)
    assert abs(r.se_jackknife - r.se_linearized) < 0.5 * r.se_linearized


# ----------------------------------------------------- jarque_bera_normality


def test_jarque_bera_matches_moment_recount(spark):
    from webcrawler_spark.queries import q_jarque_bera_normality

    xs = [
        r.value
        for r in spark.read.parquet(f"{SF}/events.parquet").select("value").collect()
    ]
    got = {r.variant: r for r in q_jarque_bera_normality(spark, SF).collect()}
    for variant, vals in (
        ("value", xs),
        ("log_value", [math.log(max(x, 1e-12)) for x in xs]),
    ):
        n = len(vals)
        m1 = sum(vals) / n
        m2 = sum((v - m1) ** 2 for v in vals) / n
        m3 = sum((v - m1) ** 3 for v in vals) / n
        m4 = sum((v - m1) ** 4 for v in vals) / n
        s = m3 / m2**1.5
        k = m4 / m2**2
        jb = n / 6 * (s * s + (k - 3) ** 2 / 4)
        r = got[variant]
        assert r.n == n
        assert abs(r.skewness - s) < 1e-5
        assert abs(r.kurtosis - k) < 1e-5
        assert abs(r.jb_stat - jb) < max(1e-3, 1e-6 * jb)
        assert abs(r.p_value - math.exp(-jb / 2)) < 1e-6
        assert r.reject_5pct == int(jb > 5.991)
    # raw values are visibly right-skewed; the raw JB must dwarf the log JB
    assert got["value"].jb_stat > got["log_value"].jb_stat


# -------------------------------------------------- mg1_pollaczek_khinchine


def test_pk_matches_moment_formula(spark):
    from datetime import datetime

    from webcrawler_spark.queries import q_mg1_pollaczek_khinchine

    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("ts", "value")
        .collect()
    )
    epoch = datetime(1970, 1, 1)
    tss = [(r.ts - epoch).total_seconds() for r in rows]
    vals = [r.value for r in rows]
    n = len(vals)
    horizon = max(tss) - min(tss)
    lam = (n - 1) / horizon
    es = sum(vals) / n
    es2 = sum(v * v for v in vals) / n
    rho = lam * es
    assert rho < 1.0  # the workload parses as a stable queue
    wq_pk = lam * es2 / (2 * (1 - rho))
    wq_mm1 = rho * es / (1 - rho)
    r = q_mg1_pollaczek_khinchine(spark, SF).collect()[0]
    assert r.n == n
    assert abs(r.lambda_per_s - lam) < 1e-6
    assert abs(r.rho - rho) < 1e-5
    assert abs(r.wq_pk_s - wq_pk) < max(1e-4, 1e-6 * wq_pk)
    assert abs(r.wq_mm1_s - wq_mm1) < max(1e-4, 1e-6 * wq_mm1)
    # the PK/MM1 ratio is exactly (1 + cv^2)/2 = E[S^2] / (2 E[S]^2)
    assert abs(r.tail_penalty - es2 / (2 * es * es)) < 1e-5
    # this corpus's service values are MORE regular than exponential
    assert 0.0 < r.tail_penalty < 1.0


# --------------------------------------------------- triplet_violation_rate


def test_triplet_rate_matches_literal_pairing(spark):
    from webcrawler_spark.queries import q_triplet_violation_rate

    rows = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    vecs = {r.vec_id: ([float(v) for v in r.embedding], r.label) for r in rows}
    ids = sorted(vecs)

    def next_id(vid, same):
        lab = vecs[vid][1]
        cands = [
            j
            for j in ids
            if j != vid and (vecs[j][1] == lab) == same
        ]
        after = [j for j in cands if j > vid]
        return after[0] if after else cands[0]

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    viol = defaultdict(lambda: [0, 0])
    for vid in ids:
        v, lab = vecs[vid]
        p = vecs[next_id(vid, True)][0]
        q = vecs[next_id(vid, False)][0]
        viol[lab][0] += 1
        viol[lab][1] += d2(v, p) >= d2(v, q)
    got = {r.label: r for r in q_triplet_violation_rate(spark, SF).collect()}
    assert set(got) == set(viol)
    for lab, (na, nv) in viol.items():
        r = got[lab]
        assert (r.n_anchors, r.n_violations) == (na, nv)
        assert r.violation_milli == 1000 * nv // na


# ---------------------------------------------- refresh_allocation_freshness


def test_refresh_allocation_matches_closed_forms(spark):
    from datetime import datetime

    from webcrawler_spark.queries import q_refresh_allocation_freshness

    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("ts", "user_id")
        .collect()
    )
    epoch = datetime(1970, 1, 1)
    tss = [(r.ts - epoch).total_seconds() for r in rows]
    days = (max(tss) - min(tss)) / 86400.0
    cnt = defaultdict(int)
    for r in rows:
        cnt[r.user_id] += 1
    lams = [c / days for c in cnt.values()]
    b = sum(lams)
    n = len(lams)
    ssq = sum(math.sqrt(l) for l in lams)
    pols = {
        "uniform": [b / n] * n,
        "proportional": lams,
        "sqrt": [b * math.sqrt(l) / ssq for l in lams],
    }
    got = {r.policy: r for r in q_refresh_allocation_freshness(spark, SF).collect()}
    for pol, fs in pols.items():
        fresh = [f / (f + l) for f, l in zip(fs, lams)]
        r = got[pol]
        assert r.n_pages == n
        assert abs(r.freshness - sum(fresh) / n) < 1e-6
        assert abs(r.worst_page_freshness - min(fresh)) < 1e-6
    # the classic result: proportional ties every page at exactly 1/2
    assert abs(got["proportional"].freshness - 0.5) < 1e-9
    # and with any rate skew, uniform strictly beats proportional
    assert got["uniform"].freshness > got["proportional"].freshness


# --------------------------------------------------------- count_sketch_audit


def test_count_sketch_matches_literal_simulation(spark):
    import hashlib

    from webcrawler_spark.queries import q_count_sketch_audit

    W, D = 256, 5
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    toks = [t for d in docs for t in d.text.lower().split() if t]
    cs = [[0] * W for _ in range(D)]
    cm = [[0] * W for _ in range(D)]

    def hb(r, t):
        h = int(hashlib.md5(f"{r}_{t}".encode()).hexdigest()[:8], 16)
        return h % W, 1 if (h // W) % 2 == 0 else -1

    for t in toks:
        for r in range(D):
            b, s = hb(r, t)
            cs[r][b] += s
            cm[r][b] += 1
    cnt = defaultdict(int)
    for t in toks:
        cnt[t] += 1
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = {r.tok: r for r in q_count_sketch_audit(spark, SF).collect()}
    assert set(got) == {t for t, _ in top}
    for t, c in top:
        reads = []
        cms = []
        for r in range(D):
            b, s = hb(r, t)
            reads.append(s * cs[r][b])
            cms.append(cm[r][b])
        cs_est = sorted(reads)[D // 2]
        cm_est = min(cms)
        row = got[t]
        assert (row.true_cnt, row.cs_est, row.cm_est) == (c, cs_est, cm_est)
        assert row.cs_err == cs_est - c
        assert row.cm_err == cm_est - c
        # CM error is one-sided by construction
        assert row.cm_err >= 0


# --------------------------------------------------------- haar_synopsis_error


def test_haar_synopsis_matches_literal_transform(spark):
    from datetime import datetime, timedelta

    from webcrawler_spark.queries import q_haar_synopsis_error

    N = 512
    rows = spark.read.parquet(f"{SF}/events.parquet").select("ts").collect()
    epoch = datetime(1970, 1, 1)
    hs = [int((r.ts - epoch) // timedelta(hours=1)) for r in rows]
    h0 = min(hs)
    y = [0] * N
    for h in hs:
        if h - h0 < N:
            y[h - h0] += 1
    # closed-form detail coefficients
    coefs = []
    for l in range(9):
        B = 2 ** (l + 1)
        for k in range(N // B):
            lo, mid, hi = k * B, k * B + B // 2, (k + 1) * B
            diff = sum(y[lo:mid]) - sum(y[mid:hi])
            coefs.append((diff * diff / B, l, k, lo, mid, hi, diff))
    coefs.sort(key=lambda t: (-t[0], t[1], t[2]))
    total = sum(y)
    sumsq = sum(v * v for v in y)
    got = {r.k_kept: r for r in q_haar_synopsis_error(spark, SF).collect()}
    for K in (0, 8, 32, 128):
        kept = coefs[:K]
        recon = [total / N] * N
        for _, l, k, lo, mid, hi, diff in kept:
            B = 2 ** (l + 1)
            for i in range(lo, mid):
                recon[i] += diff / B
            for i in range(mid, hi):
                recon[i] -= diff / B
        sse = sum((a - b) ** 2 for a, b in zip(y, recon))
        efrac = (sum(e for e, *_ in kept) + total * total / N) / sumsq
        r = got[K]
        assert abs(r.sse - sse) < max(1e-3, 1e-9 * sse), (K, r.sse, sse)
        assert abs(r.energy_frac - efrac) < 1e-5
    # more coefficients can only help (SSE monotone nonincreasing in K)
    assert got[128].sse <= got[32].sse <= got[8].sse <= got[0].sse
    assert got[128].energy_frac <= 1.0 + 1e-9


# ----------------------------------------------------- priority_sampling_audit


def test_priority_sampling_matches_literal_draw(spark):
    import hashlib

    from webcrawler_spark.queries import q_priority_sampling_audit

    K = 64
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    pri = []
    for d in docs:
        h = int(hashlib.md5(str(d.doc_id).encode()).hexdigest()[:8], 16)
        u = (h + 1.0) / 2**32
        pri.append((d.n_chars / u, d.doc_id, float(d.n_chars)))
    pri.sort(key=lambda t: (-t[0], t[1]))
    tau = pri[K][0]
    est = sum(max(w, tau) for _, _, w in pri[:K])
    true_total = sum(w for _, _, w in pri)
    r = q_priority_sampling_audit(spark, SF).collect()[0]
    assert r.n_docs == len(pri)
    assert r.k == K
    assert abs(r.tau - tau) < 1e-3
    assert abs(r.ps_estimate - est) < 1e-3
    assert abs(r.true_total - true_total) < 1e-6
    # unbiased estimator: this draw must land within 35% of truth
    assert abs(est - true_total) / true_total < 0.35


# ---------------------------------------------------------- louvain_local_move


def test_louvain_pass_matches_literal_gain_argmax(spark):
    import hashlib

    from webcrawler_spark.queries import q_louvain_local_move

    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("event_id", "user_id")
        .collect()
    )
    und = set()
    for r in rows:
        src = r.user_id % 50
        dst = int(hashlib.md5(str(r.event_id).encode()).hexdigest()[:4], 16) % 50
        if src != dst:
            und.add((min(src, dst), max(src, dst)))
    adj = defaultdict(set)
    for u, v in und:
        adj[u].add(v)
        adj[v].add(u)
    deg = {i: len(ns) for i, ns in adj.items()}
    m = len(und)
    labels = {}
    moved = 0
    for i in sorted(adj):
        best = None
        for j in sorted(adj[i]):
            gain = 1.0 / m - deg[i] * deg[j] / (2.0 * m * m)
            if gain > 0 and (best is None or gain > best[0] + 1e-15):
                best = (gain, j)
        if best:
            labels[i] = best[1]
            moved += 1
        else:
            labels[i] = i
    e_in = defaultdict(int)
    dsum = defaultdict(int)
    for u, v in und:
        if labels[u] == labels[v]:
            e_in[labels[u]] += 1
    for i, k in deg.items():
        dsum[labels[i]] += k
    q_after = sum(
        e_in.get(c, 0) / m - (d / (2.0 * m)) ** 2 for c, d in dsum.items()
    )
    q_before = sum(-((k / (2.0 * m)) ** 2) for k in deg.values())
    r = q_louvain_local_move(spark, SF).collect()[0]
    assert (r.n_nodes, r.m_edges, r.n_moved) == (len(adj), m, moved)
    assert r.n_communities == len(set(labels.values()))
    assert abs(r.q_before - q_before) < 1e-6
    assert abs(r.q_after - q_after) < 1e-6
    # the synchronous pass is NOT monotone (mutual moves interact —
    # the classic parallel-Louvain oscillation this audit measures);
    # on this graph the overshoot is visible:
    assert r.q_after < r.q_before
    assert r.n_moved > 0


# ------------------------------------------------------- join_order_cost_audit


def test_join_order_audit_matches_literal_counts(spark):
    from datetime import date

    from webcrawler_spark.queries import q_join_order_cost_audit

    cust = spark.read.parquet(f"{SF}/customer.parquet").collect()
    orders = spark.read.parquet(f"{SF}/orders.parquet").collect()
    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_orderkey", "l_shipdate")
        .collect()
    )
    cut = date(1995, 3, 15)
    cf = {c.c_custkey for c in cust if c.c_mktsegment == "BUILDING"}
    of = [
        (o.o_orderkey, o.o_custkey)
        for o in orders
        if (o.o_orderdate.date() if hasattr(o.o_orderdate, "date") else o.o_orderdate) < cut
    ]
    lf = [
        l.l_orderkey
        for l in li
        if (l.l_shipdate.date() if hasattr(l.l_shipdate, "date") else l.l_shipdate) > cut
    ]
    true_co = sum(ck in cf for _, ck in of)
    ok_f = {ok for ok, ck in of}
    from collections import Counter

    lcnt = Counter(lf)
    true_ol = sum(lcnt.get(ok, 0) for ok in ok_f)
    co_keys = [ok for ok, ck in of if ck in cf]
    true_col = sum(lcnt.get(ok, 0) for ok in co_keys)
    est_co = len(cf) * len(of) / len(cust)
    est_ol = len(of) * len(lf) / len(orders)
    est_col = est_co * len(lf) / len(orders)
    got = {r.plan: r for r in q_join_order_cost_audit(spark, SF).collect()}
    a = got["CO_then_L"]
    b = got["OL_then_C"]
    assert a.true_first_join == true_co
    assert b.true_first_join == true_ol
    assert a.true_cost == true_co + true_col
    assert b.true_cost == true_ol + true_col
    assert abs(a.est_first_join - est_co) < 1e-3
    assert abs(b.est_first_join - est_ol) < 1e-3
    assert abs(a.est_cost - (est_co + est_col)) < 1e-3


# ------------------------------------------------------- ctfidf_class_keywords


def test_ctfidf_matches_literal_formula(spark):
    from webcrawler_spark.queries import q_ctfidf_class_keywords

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    tf = defaultdict(int)
    mass = defaultdict(int)
    ft = defaultdict(int)
    for d in docs:
        for t in d.text.lower().split():
            if t:
                tf[(d.source, t)] += 1
                mass[d.source] += 1
                ft[t] += 1
    a = sum(mass.values()) / len(mass)
    per_source = defaultdict(list)
    for (s, t), c in tf.items():
        score = c / mass[s] * math.log(1.0 + a / ft[t])
        per_source[s].append((-score, t, c))
    got = defaultdict(dict)
    for r in q_ctfidf_class_keywords(spark, SF).collect():
        got[r.source][r.rank] = r
    for s, lst in per_source.items():
        lst.sort()
        for rank, (negscore, t, c) in enumerate(lst[:3], start=1):
            r = got[s][rank]
            assert r.term == t, (s, rank, r.term, t)
            assert r.tf == c
            assert abs(r.ctfidf - (-negscore)) < 1e-6


# --------------------------------------------------------- turning_points_test


def test_turning_points_matches_literal_scan(spark):
    from webcrawler_spark.queries import q_turning_points_test

    xs = [x for _, x in _hourly_x(spark)]
    n = len(xs)
    t = sum(
        1
        for i in range(1, n - 1)
        if (xs[i - 1] < xs[i] > xs[i + 1]) or (xs[i - 1] > xs[i] < xs[i + 1])
    )
    exp = 2 * (n - 2) / 3
    z = (t - exp) / math.sqrt((16 * n - 29) / 90)
    r = q_turning_points_test(spark, SF).collect()[0]
    assert (r.n, r.t_obs) == (n, t)
    assert abs(r.t_expected - exp) < 1e-6
    assert abs(r.z - z) < 1e-6
    assert abs(r.p_two_sided - (1 - math.erf(abs(z) / math.sqrt(2)))) < 1e-5
    assert r.deviation_kind == ("momentum" if t < exp else "alternation")


# ------------------------------------------------------------ gpd_pot_moments


def test_gpd_matches_literal_moment_fit(spark):
    from webcrawler_spark.queries import q_gpd_pot_moments

    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("event_id", "value")
        .collect()
    )
    ordered = sorted((r.value, r.event_id) for r in rows)
    n = len(ordered)
    u = ordered[math.ceil(0.95 * n) - 1][0]
    exc = [v - u for v, _ in ordered if v > u]
    m = sum(exc) / len(exc)
    v = sum((e - m) ** 2 for e in exc) / len(exc)
    xi = 0.5 * (1 - m * m / v)
    sigma = 0.5 * m * (1 + m * m / v)
    rl = u + sigma / xi * ((len(exc) / (n * 0.001)) ** xi - 1)
    r = q_gpd_pot_moments(spark, SF).collect()[0]
    assert r.n_exc == len(exc)
    assert abs(r.threshold - u) < 1e-6
    assert abs(r.xi - xi) < 1e-5
    assert abs(r.sigma - sigma) < 1e-5
    assert abs(r.return_level_p999 - rl) < max(1e-3, 1e-6 * abs(rl))
    # the fitted return level extrapolates beyond the threshold
    assert r.return_level_p999 > u


# ------------------------------------------------------ tail_dependence_lambda


def test_tail_dependence_matches_literal_thresholds(spark):
    from webcrawler_spark.queries import q_tail_dependence_lambda

    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("ts", "event_type")
        .collect()
    )
    acc = defaultdict(lambda: [0, 0])
    for r in rows:
        hr = r.ts.strftime("%Y-%m-%d %H:00:00")
        cell = acc[hr]  # every hour with ANY event joins the series
        if r.event_type == "click":
            cell[0] += 1
        elif r.event_type == "error":
            cell[1] += 1
    series = sorted(acc.items())
    n = len(series)
    xs = sorted((x, hr) for hr, (x, _) in series)
    ys = sorted((y, hr) for hr, (_, y) in series)
    qx = xs[math.ceil(0.9 * n) - 1][0]
    qy = ys[math.ceil(0.9 * n) - 1][0]
    joint = sum(1 for _, (x, y) in series if x > qx and y > qy)
    yex = sum(1 for _, (_, y) in series if y > qy)
    r = q_tail_dependence_lambda(spark, SF).collect()[0]
    assert (r.n_hours, r.qx, r.qy, r.n_joint, r.n_y_exceed) == (
        n,
        qx,
        qy,
        joint,
        yex,
    )
    assert abs(r.lambda_u - joint / yex) < 1e-6
    assert 0.0 <= r.lambda_u <= 1.0


# -------------------------------------------------------------- dkw_ecdf_bound


def test_dkw_matches_literal_sup_scan(spark):
    from webcrawler_spark.queries import q_dkw_ecdf_bound

    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("event_id", "value")
        .collect()
    )
    vals = sorted((r.value, r.event_id % 2 == 0) for r in rows)
    n = len(vals)
    m = sum(1 for _, h in vals if h)
    cn = cm = 0
    d_sup = 0.0
    for _, h in vals:
        cn += 1
        cm += h
        d_sup = max(d_sup, abs(cm / m - cn / n))
    eps = math.sqrt(math.log(2 / 0.05) / (2 * m))
    r = q_dkw_ecdf_bound(spark, SF).collect()[0]
    assert (r.n, r.m) == (n, m)
    assert abs(r.d_sup - d_sup) < 1e-6
    assert abs(r.dkw_eps_95 - eps) < 1e-6
    assert r.within_bound == int(d_sup <= eps)
    # a genuinely random half-split should sit inside the envelope
    assert r.within_bound == 1


# -------------------------------------------------------- v_measure_clustering


def test_v_measure_matches_literal_entropies(spark):
    from webcrawler_spark.queries import q_v_measure_clustering

    rows = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    vecs = [(r.vec_id, r.label, [float(v) for v in r.embedding]) for r in rows]
    dim = len(vecs[0][2])
    by_label = defaultdict(list)
    for _, lab, v in vecs:
        by_label[lab].append(v)
    cent = {
        lab: [sum(v[d] for v in vs) / len(vs) for d in range(dim)]
        for lab, vs in by_label.items()
    }
    nij = defaultdict(int)
    for _, lab, v in vecs:
        best = min(
            cent.items(),
            key=lambda kv: (
                sum((v[d] - kv[1][d]) ** 2 for d in range(dim)),
                kv[0],
            ),
        )[0]
        nij[(lab, best)] += 1
    n = sum(nij.values())
    nc = defaultdict(int)
    nk = defaultdict(int)
    for (c, k), v in nij.items():
        nc[c] += v
        nk[k] += v
    hck = -sum(v / n * math.log(v / nk[k]) for (c, k), v in nij.items())
    hkc = -sum(v / n * math.log(v / nc[c]) for (c, k), v in nij.items())
    hc = -sum(v / n * math.log(v / n) for v in nc.values())
    hk = -sum(v / n * math.log(v / n) for v in nk.values())
    hom = 1 - hck / hc
    com = 1 - hkc / hk
    r = q_v_measure_clustering(spark, SF).collect()[0]
    assert abs(r.homogeneity - hom) < 1e-5
    assert abs(r.completeness - com) < 1e-5
    assert abs(r.v_measure - 2 * hom * com / (hom + com)) < 1e-5
    assert 0.0 <= r.v_measure <= 1.0


# ---------------------------------------------------- successive_halving_audit


def test_successive_halving_matches_literal_elimination(spark):
    from webcrawler_spark.queries import q_successive_halving_audit

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    stop = {"the", "a", "of", "and", "in", "is", "to", "for"}
    per_arm = defaultdict(list)
    for d in sorted(docs, key=lambda d: d.doc_id):
        toks = [t for t in d.text.lower().split() if t]
        q = min(1000, 6000 * sum(t in stop for t in toks) // max(1, len(toks)))
        per_arm[d.source].append(float(q))
    survivors = sorted(per_arm)
    table = {}
    for rnd, b in enumerate((2, 4, 8, 16, 32), start=1):
        scored = sorted(
            (
                (-sum(per_arm[s][:b]) / len(per_arm[s][:b]), s)
                for s in survivors
            )
        )
        keep = (len(scored) + 1) // 2
        for rk, (negm, s) in enumerate(scored, start=1):
            table[(rnd, s)] = (-negm, int(rk <= keep))
        survivors = [s for _, s in scored[: keep]]
    winner = survivors[0]
    full = {s: sum(v) / len(v) for s, v in per_arm.items()}
    best = max(full.items(), key=lambda kv: (kv[1], kv[0]))[1]
    regret = best - full[winner]
    got = q_successive_halving_audit(spark, SF).collect()
    got_rows = {(r.round, r.source): r for r in got}
    for (rnd, s), (pm, kept) in table.items():
        r = got_rows[(rnd, s)]
        assert abs(r.prefix_mean - pm) < 1e-6, (rnd, s)
        assert r.kept == kept
    reg = got_rows[(99, "=regret=")]
    assert abs(reg.prefix_mean - regret) < 1e-6
    # regret is nonnegative by construction
    assert reg.prefix_mean >= 0.0


# ---------------------------------------------------------------- logrank_test


def test_logrank_matches_literal_hypergeometric_fold(spark):
    from datetime import datetime

    from webcrawler_spark.queries import q_logrank_test

    # sf0.001 has only 15 users, all right-censored (every last event
    # inside the 48h window) — use sf0.01 where real deaths exist
    sf = "/root/testdata/sf0.01"
    rows = (
        spark.read.parquet(f"{sf}/events.parquet")
        .select("ts", "user_id")
        .collect()
    )
    epoch = datetime(1970, 1, 1)
    per = defaultdict(list)
    for r in rows:
        per[r.user_id].append((r.ts - epoch).total_seconds() * 1e6)
    tmax = max(max(v) for v in per.values())
    lives = []
    for uid, ts in per.items():
        life = (max(ts) - min(ts)) / 3.6e9
        death = int(max(ts) < tmax - 48 * 3600e6)
        lives.append((uid % 2 == 0, life, death))
    death_times = sorted({l for g, l, d in lives if d == 1})
    o1 = e1 = v = 0.0
    n_times = 0
    for t in death_times:
        at = [(g, l, d) for g, l, d in lives if l >= t]
        n = len(at)
        if n <= 1:
            continue
        n1 = sum(1 for g, _, _ in at if g)
        deaths = [(g, l, d) for g, l, d in at if d == 1 and l == t]
        dd = len(deaths)
        d1 = sum(1 for g, _, _ in deaths if g)
        o1 += d1
        e1 += dd * n1 / n
        v += dd * (n1 / n) * (1 - n1 / n) * (n - dd) / (n - 1)
        n_times += 1
    z = (o1 - e1) / math.sqrt(v)
    r = q_logrank_test(spark, sf).collect()[0]
    assert r.n_users == len(per)
    assert r.n_censored == sum(1 - d for _, _, d in lives)
    assert r.n_times == n_times
    assert abs(r.observed_g1 - o1) < 1e-6
    assert abs(r.expected_g1 - e1) < 1e-5
    assert abs(r.z - z) < 1e-5
    assert abs(r.p_two_sided - (1 - math.erf(abs(z) / math.sqrt(2)))) < 1e-5


# --------------------------------------------------------------- risk_ratio_ci


def test_risk_ratio_matches_katz_formula(spark):
    from webcrawler_spark.queries import q_risk_ratio_ci

    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("user_id", "event_type")
        .collect()
    )
    n1 = sum(1 for r in rows if r.user_id % 2 == 0)
    x1 = sum(1 for r in rows if r.user_id % 2 == 0 and r.event_type == "purchase")
    n2 = len(rows) - n1
    x2 = sum(1 for r in rows if r.user_id % 2 == 1 and r.event_type == "purchase")
    rr = (x1 / n1) / (x2 / n2)
    se = math.sqrt(1 / x1 - 1 / n1 + 1 / x2 - 1 / n2)
    lo = math.exp(math.log(rr) - 1.96 * se)
    hi = math.exp(math.log(rr) + 1.96 * se)
    r = q_risk_ratio_ci(spark, SF).collect()[0]
    assert (r.n_even, r.purchases_even, r.n_odd, r.purchases_odd) == (
        n1,
        x1,
        n2,
        x2,
    )
    assert abs(r.risk_ratio - rr) < 1e-6
    assert abs(r.ci_lo - lo) < 1e-6
    assert abs(r.ci_hi - hi) < 1e-6
    assert r.significant_5pct == int(lo > 1.0 or hi < 1.0)
    # hash-split cohorts: no real effect should be detected
    assert r.significant_5pct == 0


# --------------------------------------------------------- bm25_k1_sensitivity


def test_bm25_k1_matches_literal_scoring(spark):
    from webcrawler_spark.queries import q_bm25_k1_sensitivity

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    stop = ["the", "a", "of", "and", "in", "is", "to", "for"]
    parsed = []
    for d in docs:
        toks = [t for t in d.text.lower().split() if t]
        parsed.append((d.doc_id, toks))
    n_docs = len(parsed)
    avgdl = sum(len(t) for _, t in parsed) / n_docs
    dfv = defaultdict(int)
    for _, toks in parsed:
        for t in set(toks) & set(stop):
            dfv[t] += 1
    rankings = {}
    for k1 in (0.5, 1.2, 2.0):
        scores = []
        for did, toks in parsed:
            dl = len(toks)
            s = 0.0
            for t in stop:
                tfv = toks.count(t)
                if tfv:
                    idf = math.log((n_docs - dfv[t] + 0.5) / (dfv[t] + 0.5) + 1)
                    s += idf * tfv * (k1 + 1) / (
                        tfv + k1 * (0.25 + 0.75 * dl / avgdl)
                    )
            scores.append((-s, did))
        scores.sort()
        rankings[k1] = {did: i + 1 for i, (_, did) in enumerate(scores)}
    got = {(r.k1_a, r.k1_b): r for r in q_bm25_k1_sensitivity(spark, SF).collect()}
    for a, b in ((0.5, 1.2), (0.5, 2.0), (1.2, 2.0)):
        d2 = sum(
            (rankings[a][did] - rankings[b][did]) ** 2
            for did, _ in parsed
        )
        rho = 1 - 6 * d2 / (n_docs * (n_docs**2 - 1))
        ov = sum(
            1
            for did, _ in parsed
            if rankings[a][did] <= 10 and rankings[b][did] <= 10
        )
        r = got[(a, b)]
        assert r.n_docs == n_docs
        assert abs(r.spearman_rho - rho) < 1e-6, (a, b)
        assert r.top10_overlap == ov
    # adjacent k1 values agree more than the extremes
    assert got[(0.5, 1.2)].spearman_rho >= got[(0.5, 2.0)].spearman_rho


# ------------------------------------------------------ bland_altman_agreement


def test_bland_altman_matches_literal_formula(spark):
    from webcrawler_spark.queries import q_bland_altman_agreement

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    pairs = [
        (float(len([t for t in d.text.lower().split() if t])), float(d.n_chars))
        for d in docs
    ]
    k = sum(b for _, b in pairs) / sum(m for m, _ in pairs)
    diffs = [(b / k - m, (m + b / k) / 2) for m, b in pairs]
    n = len(diffs)
    bias = sum(d for d, _ in diffs) / n
    sd = math.sqrt(sum((d - bias) ** 2 for d, _ in diffs) / n)
    mm = sum(x for _, x in diffs) / n
    cov = sum((d - bias) * (x - mm) for d, x in diffs) / n
    var_m = sum((x - mm) ** 2 for _, x in diffs) / n
    outside = sum(1 for d, _ in diffs if abs(d - bias) > 1.96 * sd)
    r = q_bland_altman_agreement(spark, SF).collect()[0]
    assert r.n == n
    assert abs(r.bias_tokens - bias) < 1e-6
    # calibration makes the mean difference exactly zero
    assert abs(r.bias_tokens) < 1e-6
    assert abs(r.loa_lo - (bias - 1.96 * sd)) < 1e-5
    assert abs(r.loa_hi - (bias + 1.96 * sd)) < 1e-5
    assert r.outside_milli == 1000 * outside // n
    assert abs(r.proportional_bias_slope - cov / var_m) < 1e-6


# --------------------------------------------------- krippendorff_alpha_binary


def test_krippendorff_matches_coincidence_formula(spark):
    from webcrawler_spark.queries import q_krippendorff_alpha_binary

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    stop = {"the", "a", "of", "and", "in", "is", "to", "for"}
    os_ = []
    for d in docs:
        toks = [t for t in d.text.lower().split() if t]
        score = min(1000, 6000 * sum(t in stop for t in toks) // max(1, len(toks)))
        os_.append(
            int(d.n_chars > 2000) + int(score >= 150) + int(d.lang == "en")
        )
    n_units = len(os_)
    N = 3 * n_units
    n1 = sum(os_)
    do = sum(o * (3 - o) for o in os_) / 2  # mismatched pairs / (n_u - 1)
    de = n1 * (N - n1) / (N - 1)
    alpha = 1 - do / de
    r = q_krippendorff_alpha_binary(spark, SF).collect()[0]
    assert (r.n_units, r.n_values, r.n1) == (n_units, N, n1)
    assert abs(r.alpha - alpha) < 1e-6
    assert -1.0 <= r.alpha <= 1.0


# ------------------------------------------------------------- youden_threshold


def test_youden_matches_literal_threshold_sweep(spark):
    from webcrawler_spark.queries import q_youden_threshold

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    stop = {"the", "a", "of", "and", "in", "is", "to", "for"}
    pts = []
    for d in docs:
        toks = [t for t in d.text.lower().split() if t]
        score = min(1000, 6000 * sum(t in stop for t in toks) // max(1, len(toks)))
        pts.append((score, int(d.lang == "en")))
    p = sum(l for _, l in pts)
    ng = len(pts) - p
    best = None
    for t in sorted({s for s, _ in pts}):
        tp = sum(1 for s, l in pts if s >= t and l)
        fp = sum(1 for s, l in pts if s >= t and not l)
        j = tp / p - fp / ng
        key = (-j, t)
        if best is None or key < best[0]:
            best = (key, t, tp / p, 1 - fp / ng, j, (tp + ng - fp) / len(pts))
    r = q_youden_threshold(spark, SF).collect()[0]
    assert r.best_threshold == best[1]
    assert abs(r.sensitivity - best[2]) < 1e-6
    assert abs(r.specificity - best[3]) < 1e-6
    assert abs(r.youden_j - best[4]) < 1e-6
    assert abs(r.accuracy - best[5]) < 1e-6
    # the optimum dominates the trivial accept-all / reject-all points
    assert r.youden_j >= 0.0


# ------------------------------------------------- classifier_confusion_metrics


def _lang_points(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    stop = {"the", "a", "of", "and", "in", "is", "to", "for"}
    pts = []
    for d in docs:
        toks = [t for t in d.text.lower().split() if t]
        score = min(1000, 6000 * sum(t in stop for t in toks) // max(1, len(toks)))
        pts.append((d.doc_id, score, int(d.lang == "en")))
    return pts


def test_confusion_metrics_match_literal_cells(spark):
    from webcrawler_spark.queries import q_classifier_confusion_metrics

    pts = _lang_points(spark)
    tp = sum(1 for _, s, y in pts if s >= 150 and y)
    fp = sum(1 for _, s, y in pts if s >= 150 and not y)
    fn = sum(1 for _, s, y in pts if s < 150 and y)
    tn = sum(1 for _, s, y in pts if s < 150 and not y)
    mcc = (tp * tn - fp * fn) / math.sqrt(
        (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    )
    r = q_classifier_confusion_metrics(spark, SF).collect()[0]
    assert (r.tp, r.fp, r.fn, r.tn) == (tp, fp, fn, tn)
    assert abs(r.precision_ - tp / (tp + fp)) < 1e-6
    assert abs(r.recall - tp / (tp + fn)) < 1e-6
    assert abs(r.f1 - 2 * tp / (2 * tp + fp + fn)) < 1e-6
    assert abs(r.mcc - mcc) < 1e-6
    assert -1.0 <= r.mcc <= 1.0


# -------------------------------------------------------------- average_precision


def test_average_precision_matches_literal_sweep(spark):
    from webcrawler_spark.queries import q_average_precision

    pts = sorted(_lang_points(spark), key=lambda t: (-t[1], t[0]))
    p = sum(y for _, _, y in pts)
    cum = 0
    ap = 0.0
    prec10 = rprec = None
    for k, (_, _, y) in enumerate(pts, start=1):
        cum += y
        if y:
            ap += cum / k
        if k == 10:
            prec10 = cum / 10
        if k == p:
            rprec = cum / p
    ap /= p
    r = q_average_precision(spark, SF).collect()[0]
    assert r.n_pos == p
    assert abs(r.average_precision - ap) < 1e-6
    assert abs(r.precision_at_10 - prec10) < 1e-6
    assert abs(r.r_precision - rprec) < 1e-6
    # structural bounds (on this corpus the capped score ties many
    # non-English docs at 1000, so AP can sit BELOW prevalence —
    # exactly the head-sensitivity AP exists to expose)
    assert 0.0 < r.average_precision <= 1.0
    assert 0.0 <= r.precision_at_10 <= 1.0


# --------------------------------------------------- spiegelhalter_z_calibration


def test_spiegelhalter_matches_literal_fold(spark):
    from webcrawler_spark.queries import q_spiegelhalter_z_calibration

    pts = _lang_points(spark)
    num = den = brier = 0.0
    for _, s, y in pts:
        pr = max(0.001, min(0.999, s / 1000))
        num += (y - pr) * (1 - 2 * pr)
        den += (1 - 2 * pr) ** 2 * pr * (1 - pr)
        brier += (y - pr) ** 2
    z = num / math.sqrt(den)
    r = q_spiegelhalter_z_calibration(spark, SF).collect()[0]
    assert r.n == len(pts)
    assert abs(r.brier_score - brier / len(pts)) < 1e-6
    assert abs(r.z - z) < 1e-5
    assert r.miscalibrated_5pct == int(abs(z) > 1.96)
    # the raw stopword score is NOT a calibrated probability
    assert r.miscalibrated_5pct == 1


# ------------------------------------------------------------ learned_bloom_audit


def test_learned_bloom_matches_kraska_sizing(spark):
    from webcrawler_spark.queries import q_learned_bloom_audit

    pts = _lang_points(spark)
    n_keys = sum(y for _, _, y in pts)
    n_nonkeys = len(pts) - n_keys
    n_fn = sum(1 for _, s, y in pts if y and s < 500)
    n_fp = sum(1 for _, s, y in pts if not y and s >= 500)
    fpr = n_fp / n_nonkeys
    r = q_learned_bloom_audit(spark, SF).collect()[0]
    assert (r.n_keys, r.n_fn) == (n_keys, n_fn)
    assert abs(r.fpr_clf - fpr) < 1e-6
    plain = 1.44 * n_keys * math.log2(1 / 0.05)
    assert abs(r.plain_bits - plain) < 1e-3
    if fpr < 0.05:
        pb = (0.05 - fpr) / (1 - fpr)
        learned = 1.44 * n_fn * math.log2(1 / pb)
        assert r.feasible == 1
        assert abs(r.p_backup - pb) < 1e-6
        assert abs(r.learned_backup_bits - learned) < 1e-3
        assert r.savings_milli == int(1000 * (1 - learned / plain))
    else:
        assert r.feasible == 0


# ------------------------------------------------------------- shannon_code_audit


def test_shannon_code_lengths_exact_and_kraft_valid(spark):
    from webcrawler_spark.queries import q_shannon_code_audit

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    cnt = defaultdict(int)
    for d in docs:
        for t in d.text.lower().split():
            if t:
                cnt[t] += 1
    N = sum(cnt.values())
    V = len(cnt)
    lens = {}
    kraft = 0.0
    avg = 0.0
    for t, n in cnt.items():
        m = (N + n - 1) // n
        l = 0 if m == 1 else (m - 1).bit_length()
        lens[t] = l
        kraft += 2.0 ** (-l)
        avg += n * l
    avg /= N
    ent = -sum(n / N * math.log2(n / N) for n in cnt.values())
    r = q_shannon_code_audit(spark, SF).collect()[0]
    assert (r.n_tokens, r.vocab) == (N, V)
    assert abs(r.entropy_bits - ent) < 1e-5
    assert abs(r.shannon_avg_bits - avg) < 1e-6
    assert r.fixed_bits == (V - 1).bit_length()
    # Shannon coding theorem: H <= avg < H + 1, and Kraft holds
    assert ent - 1e-9 <= r.shannon_avg_bits < ent + 1.0
    assert kraft <= 1.0 + 1e-9


# ------------------------------------------------------------ hash_bit_bias_audit


def test_hash_bit_bias_matches_hashlib_counts(spark):
    import hashlib

    from webcrawler_spark.queries import q_hash_bit_bias_audit

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    vocab = {t for d in docs for t in d.text.lower().split() if t}
    ones = [0] * 32
    for t in vocab:
        hv = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        for b in range(32):
            ones[b] += (hv >> b) & 1
    got = {r.bit_pos: r for r in q_hash_bit_bias_audit(spark, SF).collect()}
    assert set(got) == set(range(32))
    n = len(vocab)
    n_flagged = 0
    for b in range(32):
        r = got[b]
        assert (r.n, r.ones) == (n, ones[b])
        assert abs(r.bias - (ones[b] / n - 0.5)) < 1e-6
        chi2 = (2 * ones[b] - n) ** 2 / n
        assert abs(r.chi2 - chi2) < 1e-4
        n_flagged += r.biased_5pct
    # md5 bits are unbiased: expect ~1.6 false flags in 32 at 5%; allow
    # slack but catch a systematically broken generator
    assert n_flagged <= 6


# ---------------------------------------------------- diurnal_coherence_phase


def test_coherence_matches_literal_projections(spark):
    from datetime import datetime, timedelta

    from webcrawler_spark.queries import q_diurnal_coherence_phase

    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("ts", "event_type")
        .collect()
    )
    epoch = datetime(1970, 1, 1)
    acc = defaultdict(lambda: [0, 0])
    for r in rows:
        h = int((r.ts - epoch) // timedelta(hours=1))
        cell = acc[h]
        if r.event_type == "click":
            cell[0] += 1
        elif r.event_type == "error":
            cell[1] += 1
    h0 = min(acc)
    n = len(acc)
    xbar = sum(v[0] for v in acc.values()) / n
    ybar = sum(v[1] for v in acc.values()) / n
    xc = xs = yc = ys = 0.0
    for h, (x, y) in acc.items():
        w = 2 * math.pi * (h - h0) / 24.0
        xc += (x - xbar) * math.cos(w)
        xs += (x - xbar) * math.sin(w)
        yc += (y - ybar) * math.cos(w)
        ys += (y - ybar) * math.sin(w)
    re = xc * yc + xs * ys
    im = xs * yc - xc * ys
    coh = (re * re + im * im) / ((xc**2 + xs**2) * (yc**2 + ys**2))
    phase = math.atan2(im, re) * 24 / (2 * math.pi)
    r = q_diurnal_coherence_phase(spark, SF).collect()[0]
    assert r.n == n
    assert abs(r.coherence_sq - coh) < 1e-5
    assert abs(r.phase_lag_hours - phase) < 1e-4
    assert 0.0 <= r.coherence_sq <= 1.0 + 1e-9
    assert -12.0 <= r.phase_lag_hours <= 12.0


# ------------------------------------------------------------- tukey_hsd_pairs


def test_tukey_hsd_matches_literal_contrasts(spark):
    from webcrawler_spark.queries import q_tukey_hsd_pairs

    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("event_type", "value")
        .collect()
    )
    by = defaultdict(list)
    for r in rows:
        by[r.event_type].append(r.value)
    mse_num = sum(
        sum((v - sum(vs) / len(vs)) ** 2 for v in vs) for vs in by.values()
    )
    mse = mse_num / (sum(len(v) for v in by.values()) - len(by))
    got = {(r.type_a, r.type_b): r for r in q_tukey_hsd_pairs(spark, SF).collect()}
    types = sorted(by)
    for i, a in enumerate(types):
        for b in types[i + 1 :]:
            ma, mb = sum(by[a]) / len(by[a]), sum(by[b]) / len(by[b])
            q = abs(ma - mb) / math.sqrt(
                mse / 2 * (1 / len(by[a]) + 1 / len(by[b]))
            )
            r = got[(a, b)]
            assert abs(r.mean_diff - (ma - mb)) < 1e-5
            assert abs(r.q_stat - q) < 1e-4
            assert r.significant == int(q > 3.858)


# ------------------------------------------------------------ tost_equivalence


def test_tost_matches_literal_two_one_sided(spark):
    from webcrawler_spark.queries import q_tost_equivalence

    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("user_id", "value")
        .collect()
    )
    g1 = [r.value for r in rows if r.user_id % 2 == 0]
    g2 = [r.value for r in rows if r.user_id % 2 == 1]
    m1, m2 = sum(g1) / len(g1), sum(g2) / len(g2)
    v1 = sum((v - m1) ** 2 for v in g1) / len(g1)
    v2 = sum((v - m2) ** 2 for v in g2) / len(g2)
    se = math.sqrt(v1 / len(g1) + v2 / len(g2))
    allv = [r.value for r in rows]
    mu = sum(allv) / len(allv)
    sd = math.sqrt(sum((v - mu) ** 2 for v in allv) / len(allv))
    delta = 0.05 * sd
    diff = m1 - m2
    zl, zu = (diff + delta) / se, (delta - diff) / se
    r = q_tost_equivalence(spark, SF).collect()[0]
    assert (r.n_even, r.n_odd) == (len(g1), len(g2))
    assert abs(r.mean_diff - diff) < 1e-5
    assert abs(r.margin - delta) < 1e-6
    assert abs(r.z_lower - zl) < 1e-4
    assert abs(r.z_upper - zu) < 1e-4
    assert r.equivalent_5pct == int(min(zl, zu) > 1.645)


# ----------------------------------------------------------- gumbel_copula_fit


def test_gumbel_fit_matches_literal_tau_and_forms(spark):
    from datetime import datetime, timedelta

    from webcrawler_spark.queries import q_gumbel_copula_fit

    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("ts", "event_type")
        .collect()
    )
    epoch = datetime(1970, 1, 1)
    acc = defaultdict(lambda: [0, 0])
    for r in rows:
        h = int((r.ts - epoch) // timedelta(hours=1))
        cell = acc[h]
        if r.event_type == "click":
            cell[0] += 1
        elif r.event_type == "error":
            cell[1] += 1
    series = [tuple(v) for _, v in sorted(acc.items())]
    c = d = tx = ty = 0
    n0 = 0
    for i in range(len(series)):
        for j in range(i + 1, len(series)):
            dx = series[j][0] - series[i][0]
            dy = series[j][1] - series[i][1]
            n0 += 1
            if dx == 0:
                tx += 1
            if dy == 0:
                ty += 1
            if dx * dy > 0:
                c += 1
            elif dx * dy < 0:
                d += 1
    tau = (c - d) / math.sqrt((n0 - tx) * (n0 - ty))
    r = q_gumbel_copula_fit(spark, SF).collect()[0]
    assert abs(r.tau_b - tau) < 1e-6
    assert abs(r.theta - 1 / (1 - tau)) < 1e-5
    assert abs(r.lambda_implied - (2 - 2 ** (1 - tau))) < 1e-5
    assert abs(r.model_gap - abs(r.lambda_implied - r.lambda_empirical)) < 2e-6
    # Gumbel requires positive dependence for a valid theta >= 1
    assert r.theta >= 1.0 or r.tau_b < 0


# --------------------------------------------------------- extremal_index_runs


def test_extremal_index_matches_literal_declustering(spark):
    from datetime import datetime, timedelta

    from webcrawler_spark.queries import q_extremal_index_runs

    rows = spark.read.parquet(f"{SF}/events.parquet").select("ts").collect()
    epoch = datetime(1970, 1, 1)
    cnt = defaultdict(int)
    for r in rows:
        cnt[int((r.ts - epoch) // timedelta(hours=1))] += 1
    hours = sorted(cnt.items())
    ys = sorted((y, h) for h, y in hours)
    u = ys[math.ceil(0.9 * len(ys)) - 1][0]
    exc = [h for h, y in hours if y > u]
    clusters = 0
    prev = None
    for h in exc:
        if prev is None or h - prev > 24:
            clusters += 1
        prev = h
    r = q_extremal_index_runs(spark, SF).collect()[0]
    assert (r.n_hours, r.threshold, r.n_exceed, r.n_clusters) == (
        len(hours),
        u,
        len(exc),
        clusters,
    )
    assert abs(r.theta - clusters / len(exc)) < 1e-6
    assert 0.0 < r.theta <= 1.0


# ----------------------------------------------------------- mmd_rbf_twosample


def test_mmd_matches_literal_kernel_means(spark):
    from webcrawler_spark.queries import q_mmd_rbf_twosample

    rows = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    vecs = {r.vec_id: [float(v) for v in r.embedding] for r in rows}
    ids = sorted(vecs)
    pairs = []
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d2 = sum((x - y) ** 2 for x, y in zip(vecs[a], vecs[b]))
            pairs.append((d2, a, b))
    pairs.sort()
    h = pairs[(len(pairs) + 1) // 2 - 1][0]  # lower median
    sxx = [math.exp(-d2 / h) for d2, a, b in pairs if a % 2 == 0 and b % 2 == 0]
    syy = [math.exp(-d2 / h) for d2, a, b in pairs if a % 2 == 1 and b % 2 == 1]
    sxy = [math.exp(-d2 / h) for d2, a, b in pairs if a % 2 != b % 2]
    mxx, myy, mxy = (sum(s) / len(s) for s in (sxx, syy, sxy))
    r = q_mmd_rbf_twosample(spark, SF).collect()[0]
    assert r.nx == sum(1 for i in ids if i % 2 == 0)
    assert r.ny == len(ids) - r.nx
    assert abs(r.bandwidth_d2 - h) < 1e-4
    assert abs(r.mean_kxx - mxx) < 1e-6
    assert abs(r.mean_kyy - myy) < 1e-6
    assert abs(r.mean_kxy - mxy) < 1e-6
    mmd = mxx + myy - 2 * mxy
    assert abs(r.mmd_sq - mmd) < 1e-6
    # null hash split: the two halves are the same distribution
    assert abs(r.mmd_sq) < 0.05


# --------------------------------------------------------- distance_correlation


def test_dcor_matches_literal_double_centering(spark):
    from webcrawler_spark.queries import q_distance_correlation

    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("user_id", "value")
        .collect()
    )
    per = defaultdict(lambda: [0, 0.0])
    for r in rows:
        per[r.user_id][0] += 1
        per[r.user_id][1] += r.value
    pts = [(math.log(c), s / c) for c, s in per.values()]
    n = len(pts)
    ax = [[abs(pts[i][0] - pts[j][0]) for j in range(n)] for i in range(n)]
    ay = [[abs(pts[i][1] - pts[j][1]) for j in range(n)] for i in range(n)]

    def center(m):
        rm = [sum(row) / n for row in m]
        g = sum(rm) / n
        return [
            [m[i][j] - rm[i] - rm[j] + g for j in range(n)] for i in range(n)
        ]

    A, B = center(ax), center(ay)
    dcov2 = sum(A[i][j] * B[i][j] for i in range(n) for j in range(n)) / n**2
    dvx = sum(A[i][j] ** 2 for i in range(n) for j in range(n)) / n**2
    dvy = sum(B[i][j] ** 2 for i in range(n) for j in range(n)) / n**2
    dcor = math.sqrt(max(dcov2, 0)) / math.sqrt(math.sqrt(dvx * dvy))
    r = q_distance_correlation(spark, SF).collect()[0]
    assert abs(r.dcor - dcor) < 1e-5
    assert abs(r.dcov - math.sqrt(max(dcov2, 0))) < 1e-5
    assert abs(r.dvar_x - dvx) < 1e-5
    assert abs(r.dvar_y - dvy) < 1e-5
    assert 0.0 <= r.dcor <= 1.0


# --------------------------------------------------------- wilcoxon_signed_rank


def test_wilcoxon_matches_literal_rank_sum(spark):
    from datetime import datetime, timedelta

    from webcrawler_spark.queries import q_wilcoxon_signed_rank

    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("ts", "value")
        .collect()
    )
    epoch = datetime(1970, 1, 1)
    hs = [
        (int((r.ts - epoch) // timedelta(hours=1)), r.value) for r in rows
    ]
    h0 = min(h for h, _ in hs)
    h1 = max(h for h, _ in hs)
    acc = defaultdict(lambda: [0.0, 0])
    for h, v in hs:
        key = (h % 168, int(h - h0 < (h1 - h0 + 1) // 2))
        acc[key][0] += v
        acc[key][1] += 1
    ds = []
    for how in range(168):
        a = acc.get((how, 1))
        b = acc.get((how, 0))
        if a and b:
            d = b[0] / b[1] - a[0] / a[1]
            if d != 0:
                ds.append(d)
    n = len(ds)
    ds_sorted = sorted(range(n), key=lambda i: abs(ds[i]))
    # midranks (ties measure-zero for these means)
    w_plus = sum(
        rank + 1 for rank, i in enumerate(ds_sorted) if ds[i] > 0
    )
    mu = n * (n + 1) / 4
    sigma = math.sqrt(n * (n + 1) * (2 * n + 1) / 24)
    if w_plus > mu:
        z = (w_plus - mu - 0.5) / sigma
    elif w_plus < mu:
        z = (w_plus - mu + 0.5) / sigma
    else:
        z = 0.0
    r = q_wilcoxon_signed_rank(spark, SF).collect()[0]
    assert r.n == n
    assert abs(r.w_plus - w_plus) < 1e-6
    assert abs(r.w_expected - mu) < 1e-6
    assert abs(r.z - z) < 1e-5
    assert abs(r.p_two_sided - (1 - math.erf(abs(z) / math.sqrt(2)))) < 1e-5


# --------------------------------------------------------- obrien_fleming_looks


def test_obf_looks_match_literal_cumulative_z(spark):
    from datetime import datetime

    from webcrawler_spark.queries import q_obrien_fleming_looks

    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("ts", "user_id", "event_type")
        .collect()
    )
    epoch = datetime(1970, 1, 1)
    ts_us = [int((r.ts - epoch).total_seconds() * 1e6 + 0.5) for r in rows]
    t0, t1 = min(ts_us), max(ts_us)
    per = defaultdict(lambda: [0, 0, 0, 0])
    for r, t in zip(rows, ts_us):
        b = min(4, 5 * (t - t0) // (t1 - t0 + 1))
        g = r.user_id % 2 == 0
        y = r.event_type == "purchase"
        cell = per[b]
        if g:
            cell[0] += 1
            cell[1] += y
        else:
            cell[2] += 1
            cell[3] += y
    bounds = [4.56, 3.23, 2.63, 2.28, 2.04]
    got = {r.look: r for r in q_obrien_fleming_looks(spark, SF).collect()}
    n1 = x1 = n2 = x2 = 0
    for look in range(5):
        c = per.get(look, [0, 0, 0, 0])
        n1 += c[0]
        x1 += c[1]
        n2 += c[2]
        x2 += c[3]
        p = (x1 + x2) / (n1 + n2)
        z = (x1 / n1 - x2 / n2) / math.sqrt(
            p * (1 - p) * (1 / n1 + 1 / n2)
        )
        r = got[look + 1]
        assert r.n_cum == n1 + n2
        assert abs(r.z - z) < 1e-5, (look, r.z, z)
        assert r.obf_boundary == bounds[look]
        assert r.crossed_obf == int(abs(z) > bounds[look])
        assert r.crossed_naive == int(abs(z) > 1.96)
    # null hash split must never cross the OBF boundary
    assert all(got[k].crossed_obf == 0 for k in got)
