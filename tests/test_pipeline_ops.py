"""Training-data pipeline ops added in round 3: PII scrub, intra-doc
repetition filter, benchmark decontamination. Ground-truth semantics are
pinned here; Spark<->DuckDB parity is pinned by the driver oracle (and
scripts/check_oracle_strict.py)."""

from __future__ import annotations

import contextlib
import io
import re

from webcrawler_spark.queries import (
    _DECON_MOD,
    _DECON_N,
    _RE_EMAIL,
    _RE_IP,
    _RE_PHONE,
    q_decontaminate,
    q_pii_scrub,
    q_repetition_filter,
    q_token_stats,
)

SF = "/root/testdata/sf0.001"


def plan_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ---------------------------------------------------------------- pii_scrub


def test_pii_scrub_counts_injected_ground_truth(spark):
    rows = {r.doc_id: r for r in q_pii_scrub(spark, SF).collect()}
    assert rows
    for doc_id, r in rows.items():
        if doc_id % 3 == 0:
            # the deterministic injection adds exactly one of each
            assert r.n_emails == 1, doc_id
            assert r.n_phones == 1, doc_id
            assert r.n_ips == 1, doc_id
        else:
            # word-salad base text carries no PII patterns
            assert (r.n_emails, r.n_phones, r.n_ips) == (0, 0, 0), doc_id


def test_pii_scrub_redacts_what_python_re_redacts(spark):
    """Re-derive the scrub in Python re (same regex source strings) for a
    handful of injected docs and compare md5 signatures."""
    import hashlib

    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    got = {r.doc_id: r.scrub_sig for r in q_pii_scrub(spark, SF).collect()}
    checked = 0
    for doc_id, text in sorted(docs.items())[:30]:
        t2 = text
        if doc_id % 3 == 0:
            t2 = (
                f"{text} contact user{doc_id}@example.com or "
                f"555-{(doc_id * 7) % 1000:03d}-{doc_id % 10000:04d} "
                f"ip 10.{doc_id % 256}.0.1"
            )
        scrubbed = re.sub(_RE_EMAIL, "<EMAIL>", t2)
        scrubbed = re.sub(_RE_PHONE, "<PHONE>", scrubbed)
        scrubbed = re.sub(_RE_IP, "<IP>", scrubbed)
        assert got[doc_id] == hashlib.md5(scrubbed.encode()).hexdigest()
        checked += 1
    assert checked == 30


def test_pii_scrub_prunes_documents_scan(spark):
    p = plan_str(q_pii_scrub(spark, SF))
    scan_schema = p.split("ReadSchema:")[1].splitlines()[0]
    for col in ("source", "n_chars", "lang"):
        assert col not in scan_schema


# ----------------------------------------------------------- text_clean


def test_text_clean_ground_truth(spark):
    """Re-derive the cleanup with Python unicodedata/re on the raw docs:
    NFC composes the injected combining accent, controls are stripped,
    whitespace runs collapse."""
    import hashlib
    import unicodedata

    from webcrawler_spark.queries import _DAMAGE, q_text_clean

    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    got = {r.doc_id: r for r in q_text_clean(spark, SF).collect()}
    assert set(got) == set(docs)
    ctrl = re.compile("[\x00-\x08\x0b-\x1f\x7f]")
    ws = re.compile("[ \t\n\r\x0b\x0c]+")
    for doc_id, text in docs.items():
        dirty = text + _DAMAGE if doc_id % 5 == 0 else text
        clean = ws.sub(" ", ctrl.sub("", unicodedata.normalize("NFC", dirty))).strip()
        r = got[doc_id]
        assert r.n_chars_in == len(dirty)
        assert r.n_chars_out == len(clean)
        assert r.clean_sig == hashlib.md5(clean.encode()).hexdigest()
        if doc_id % 5 == 0:
            # NFC composition + control strip + collapse must shrink it
            assert r.n_chars_out < r.n_chars_in


# ------------------------------------------------------- repetition_filter


def test_repetition_filter_matches_python_recount(spark):
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    out = {r.doc_id: r for r in q_repetition_filter(spark, SF).collect()}
    toks_of = {
        d: [t for t in re.split(r"\s+", text.lower()) if t]
        for d, text in docs.items()
    }
    for d, toks in toks_of.items():
        if len(toks) < 2:
            assert d not in out
            continue
        bgs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        from collections import Counter

        c = Counter(bgs)
        r = out[d]
        assert r.n_bigrams == len(bgs)
        # Spark rounds HALF_UP, Python banker's — compare unrounded within
        # half an ulp of the 4-dp rounding
        assert abs(r.top_bigram_frac - max(c.values()) / len(bgs)) <= 5.0001e-5
        assert abs(r.dup_tok_frac - (1.0 - len(set(toks)) / len(toks))) <= 5.0001e-5
        assert r.keep == (r.top_bigram_frac <= 0.18 and r.dup_tok_frac <= 0.9)


def test_repetition_filter_consistent_with_token_stats(spark):
    ts = {r.doc_id: r for r in q_token_stats(spark, SF).collect()}
    for r in q_repetition_filter(spark, SF).collect():
        assert r.n_bigrams == ts[r.doc_id].n_tokens - 1


# ----------------------------------------------------------- decontaminate


def test_decontaminate_matches_python_recount(spark):
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    shingles = {}
    for d, text in docs.items():
        toks = [t for t in re.split(r"\s+", text.lower()) if t]
        shingles[d] = {
            " ".join(toks[i : i + _DECON_N])
            for i in range(len(toks) - _DECON_N + 1)
        }
    ev = set()
    for d, sh in shingles.items():
        if d % _DECON_MOD == 0:
            ev |= sh
    expect = {
        d: len(sh & ev)
        for d, sh in shingles.items()
        if d % _DECON_MOD != 0 and sh & ev
    }
    got = {r.doc_id: r.n_hit_ngrams for r in q_decontaminate(spark, SF).collect()}
    assert got == expect
    assert got, "decontaminate oracle must be non-trivial at sf0.001"
    # eval docs never flag themselves
    assert all(d % _DECON_MOD != 0 for d in got)


def test_decontaminate_broadcasts_eval_side(spark):
    p = plan_str(q_decontaminate(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


# ------------------------------------------------------------ chunking


def test_doc_chunk_overlap_boundaries(spark):
    """Every consecutive chunk pair of a doc shares exactly the overlap
    window; chunk 0 starts at token 1; the last chunk covers the tail."""
    from webcrawler_spark.queries import (
        _CHUNK_OVERLAP,
        _CHUNK_SIZE,
        _CHUNK_STEP,
        q_doc_chunk_overlap,
        _read,
        _tokens,
    )
    import math

    toks = {
        r.doc_id: r.toks
        for r in _tokens(_read(spark, SF, "documents")).select("doc_id", "toks").collect()
    }
    rows = q_doc_chunk_overlap(spark, SF).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r
    import hashlib

    for doc_id, chunks in by_doc.items():
        t = toks[doc_id]
        n = len(t)
        want_chunks = max(1, math.ceil((n - _CHUNK_OVERLAP) / _CHUNK_STEP))
        assert set(chunks) == set(range(want_chunks)), doc_id
        covered = 0
        for k, r in sorted(chunks.items()):
            want = t[k * _CHUNK_STEP : k * _CHUNK_STEP + _CHUNK_SIZE]
            assert r.n_toks == len(want)
            assert r.chunk_fp == hashlib.md5(" ".join(want).encode()).hexdigest()
            covered = max(covered, k * _CHUNK_STEP + len(want))
        assert covered == n  # no token lost at the tail


def test_pps_sample_exact_k_per_lang(spark):
    from webcrawler_spark.queries import _PPS_K, q_pps_sample

    rows = q_pps_sample(spark, "/root/testdata/sf0.001").collect()
    per_lang: dict[str, list] = {}
    for r in rows:
        per_lang.setdefault(r.lang, []).append(r.slot)
    # one selection per slot stride; slots strictly increasing => unique
    for lang, slots in per_lang.items():
        assert len(slots) <= _PPS_K, lang
        assert len(set(slots)) == len(slots), lang
    assert sum(len(v) for v in per_lang.values()) >= 3 * _PPS_K


def test_registrable_domain_longest_match(spark):
    from webcrawler_spark.queries import q_registrable_domain

    rows = {
        r.host: (r.public_suffix, r.registrable_domain)
        for r in q_registrable_domain(spark, SF).collect()
    }
    # longest rule wins: co.uk over uk, github.io over io,
    # blogspot.com over com
    for host, (ps, rd) in rows.items():
        assert host.endswith("." + ps)
        assert rd.endswith("." + ps)
        assert "." not in rd[: -len(ps) - 1]  # exactly one label + suffix
        assert host == rd or host.endswith("." + rd)
        if host.endswith(".co.uk"):
            assert ps == "co.uk", host
        if host.endswith(".github.io"):
            assert ps == "github.io", host
        if host.endswith(".blogspot.com"):
            assert ps == "blogspot.com", host
    # www/cdn subdomains collapse onto the same registrable domain
    assert rows["www.s0.com"][1] == "s0.com"
    # doc_id 14: 14%3!=0, 14%7==0 -> cdn.m. prefix; 14%6==2 -> github.io
    assert rows["cdn.m.s14.github.io"] == ("github.io", "s14.github.io")


def test_mirror_hosts_planted_pairs(spark):
    from webcrawler_spark.queries import q_mirror_hosts

    rows = q_mirror_hosts(spark, SF).collect()
    assert len(rows) == 20
    for r in rows:
        a, b = int(r.host_a[1:]), int(r.host_b[1:])
        assert abs(a - b) == 20  # only the planted (h, h+20) pairs
        assert abs(r.overlap - 0.8) < 1e-9  # 4 shared of 5 per host
        assert r.shared == 4 and r.n_a == 5 and r.n_b == 5


def test_weighted_reservoir_bias_and_bounds(spark):
    from webcrawler_spark.queries import _AES_K, q_weighted_reservoir
    from webcrawler_spark.queries import _read

    import hashlib
    import math

    rows = q_weighted_reservoir(spark, SF).collect()
    pop = _read(spark, SF, "documents").select(
        "doc_id", "lang", "n_chars"
    ).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)

    # pure-Python A-ES oracle: same md5-derived uniform, same key formula
    def aes_key(doc_id: int, w: int) -> float:
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
        u = (h + 0.5) / 2**32
        return round(-math.log(u) / float(w), 9)

    pop_by_lang: dict[str, list] = {}
    for r in pop:
        pop_by_lang.setdefault(r.lang, []).append(
            (aes_key(r.doc_id, r.n_chars), r.doc_id)
        )
    for lang, sel in by_lang.items():
        want = sorted(pop_by_lang[lang])[: _AES_K]
        assert len(sel) == min(_AES_K, len(pop_by_lang[lang])), lang
        assert sorted(r.rk for r in sel) == list(range(1, len(sel) + 1))
        got = [r.doc_id for r in sorted(sel, key=lambda r: r.rk)]
        assert got == [d for _, d in want], lang  # exact A-ES selection


def test_span_corrupt_round_trip(spark):
    # denoising invariant: substituting each <extra_id_k> in the input
    # with its span from the target reconstructs the original tokens
    import re

    from webcrawler_spark.queries import q_span_corrupt, _read

    rows = q_span_corrupt(spark, SF).collect()
    orig = {
        r.doc_id: [t for t in re.split(r"\s+", r.text.lower()) if t]
        for r in _read(spark, SF, "documents").select("doc_id", "text").collect()
    }
    assert len(rows) == len(orig)
    sent = re.compile(r"^<extra_id_(\d+)>$")
    for r in rows:
        spans: dict[str, list] = {}
        cur = None
        for t in r.target_text.split(" ") if r.target_text else []:
            m = sent.match(t)
            if m:
                cur = t
                spans[cur] = []
            else:
                spans[cur].append(t)
        assert len(spans) == r.n_spans
        rebuilt = []
        for t in r.input_text.split(" ") if r.input_text else []:
            rebuilt.extend(spans[t] if sent.match(t) else [t])
        assert rebuilt == orig[r.doc_id], r.doc_id
        # the input must never leak a masked token in place
        if r.n_spans:
            assert "<extra_id_0>" in r.input_text


def test_facility_location_matches_python_greedy(spark):
    # pure-Python greedy facility location on the same integer-micro-unit
    # kernel must pick identical medoids with identical gains
    from webcrawler_spark.queries import _FL_ROUNDS, q_facility_location, _read

    vecs: dict[int, list] = {}
    labels: dict[int, list] = {}
    for r in _read(spark, SF, "embeddings").collect():
        vecs[r.vec_id] = r.embedding
        labels.setdefault(r.label, []).append(r.vec_id)

    def s_units(a, b):
        d2 = 0.0
        for x, y in zip(vecs[a], vecs[b]):
            d2 += (float(x) - float(y)) * (float(x) - float(y))
        v = 1000000.0 / (1.0 + d2)
        # round-half-up like Spark/DuckDB round()
        import math
        return int(math.floor(v + 0.5))

    want = {}
    for lab, ids in labels.items():
        ids = sorted(ids)
        sims = {c: {p: s_units(c, p) for p in ids} for c in ids}
        cov = {p: 0 for p in ids}
        sel = []
        for rnd in range(1, _FL_ROUNDS + 1):
            best = None
            for c in ids:
                if c in sel:
                    continue
                gain = sum(max(sims[c][p] - cov[p], 0) for p in ids)
                if best is None or gain > best[0] or (gain == best[0] and c < best[1]):
                    best = (gain, c)
            sel.append(best[1])
            want[(lab, rnd)] = (best[1], best[0])
            for p in ids:
                cov[p] = max(cov[p], sims[best[1]][p])

    got = {
        (r.label, r.round): (r.medoid, r.gain_units)
        for r in q_facility_location(spark, SF).collect()
    }
    assert got == want
    # submodularity: per-label gains are non-increasing across rounds
    for lab in labels:
        gains = [got[(lab, r)][1] for r in range(1, _FL_ROUNDS + 1)]
        assert gains == sorted(gains, reverse=True), lab


def test_rrf_fusion_properties(spark):
    from webcrawler_spark.queries import (
        _RRF_K,
        _RRF_QUERIES,
        _RRF_TOPN,
        q_rrf_fusion,
    )

    rows = q_rrf_fusion(spark, SF).collect()
    by_q: dict[str, list] = {}
    for r in rows:
        by_q.setdefault(r.query_term, []).append(r)
    assert len(by_q) == _RRF_QUERIES
    for qt, sel in by_q.items():
        assert len(sel) == _RRF_TOPN, qt
        sel = sorted(sel, key=lambda r: r.rk)
        # fused score is exactly the two-term reciprocal sum
        for r in sel:
            want = round(1.0 / (_RRF_K + r.rank_a) + 1.0 / (_RRF_K + r.rank_b), 6)
            assert abs(r.rrf - want) < 1e-12
        # top-n is ordered by fused score (doc_id tie-break)
        keys = [(-r.rrf, r.doc_id) for r in sel]
        assert keys == sorted(keys), qt
        # a doc ranked #1 by BOTH rankers must be fused #1
        both_first = [r for r in sel if r.rank_a == 1 and r.rank_b == 1]
        if both_first:
            assert both_first[0].rk == 1


def test_url_param_rules_planted_structure(spark):
    from webcrawler_spark.queries import q_url_param_rules

    got = {r.param: r for r in q_url_param_rules(spark, SF).collect()}
    assert set(got) == {"sid", "page"}
    # session ids collapse content on every evidenced base -> irrelevant
    assert got["sid"].irrelevant and got["sid"].n_collapsed == got["sid"].n_bases
    # the page param changes content on every base -> relevant
    assert not got["page"].irrelevant and got["page"].n_collapsed == 0
    assert got["sid"].n_bases == 25 and got["page"].n_bases == 25


def test_warc_revisit_semantics(spark):
    from webcrawler_spark.queries import q_warc_revisit

    rows = q_warc_revisit(spark, SF).collect()
    by_url: dict[int, list] = {}
    for r in rows:
        by_url.setdefault(r.url_key, []).append(r)
    assert sum(len(v) for v in by_url.values()) == len(rows)
    n_rev = 0
    for url, fetches in by_url.items():
        fetches.sort(key=lambda r: r.ts_us)
        # the first capture of a URL is never a revisit
        assert not fetches[0].is_revisit and fetches[0].refers_to_us is None
        prev = fetches[0]
        for r in fetches[1:]:
            want = r.digest == prev.digest
            assert r.is_revisit == want, (url, r.ts_us)
            if want:
                assert r.refers_to_us == prev.ts_us
                n_rev += 1
            else:
                assert r.refers_to_us is None
            prev = r
    # the synthetic change schedule must produce real dedup
    assert 0 < n_rev < len(rows)


# ------------------------------------------------------- pmi_collocations


def test_pmi_collocations_python_recount(spark):
    import math

    from webcrawler_spark.queries import _PMI_MIN_C, q_pmi_collocations

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    c12: dict[tuple, int] = {}
    cw: dict[str, int] = {}
    n_tok = 0
    for d in docs:
        toks = [t for t in re.split(r"\s+", d.text.lower()) if t]
        n_tok += len(toks)
        for t in toks:
            cw[t] = cw.get(t, 0) + 1
        for a, b in zip(toks, toks[1:]):
            c12[(a, b)] = c12.get((a, b), 0) + 1
    want = {
        p: (c, round(math.log(c * n_tok / (cw[p[0]] * cw[p[1]])), 5))
        for p, c in c12.items()
        if c >= _PMI_MIN_C
    }
    got = {
        (r.w1, r.w2): (r.pair_count, r.pmi)
        for r in q_pmi_collocations(spark, SF).collect()
    }
    assert got == want and len(got) > 0


# --------------------------------------------------------------- mlm_mask


def test_mlm_mask_deterministic_and_proportioned(spark):
    import hashlib

    from webcrawler_spark.queries import (
        _MLM_MASK,
        _MLM_RAND,
        _MLM_SEL,
        q_mlm_mask,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    toks_by_doc = {
        d.doc_id: [t for t in re.split(r"\s+", d.text.lower()) if t]
        for d in docs
    }
    total_pos = sum(len(v) for v in toks_by_doc.values())
    rows = q_mlm_mask(spark, SF).collect()
    # every selected row reproduces the hash decision exactly
    for r in rows:
        h = hashlib.md5(f"{r.doc_id}:{r.pos}".encode()).hexdigest()
        u, v = int(h[:8], 16), int(h[8:16], 16)
        assert u < _MLM_SEL
        toks = toks_by_doc[r.doc_id]
        assert r.original == toks[r.pos]
        if v < _MLM_MASK:
            assert r.action == "mask" and r.masked == "[MASK]"
        elif v < _MLM_RAND:
            assert r.action == "random"
            assert r.masked == toks[(r.pos * 7) % len(toks)]
        else:
            assert r.action == "keep" and r.masked == r.original
    # selection rate ~15%, action split ~80/10/10
    frac = len(rows) / total_pos
    assert 0.10 < frac < 0.20, frac
    n = len(rows)
    acts = {a: sum(1 for r in rows if r.action == a) / n
            for a in ("mask", "random", "keep")}
    assert 0.7 < acts["mask"] < 0.9
    assert 0.03 < acts["random"] < 0.17
    assert 0.03 < acts["keep"] < 0.17


# ---------------------------------------------------------- host_fairness


def test_host_fairness_python_recount(spark):
    from webcrawler_spark.queries import q_host_fairness

    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    per: dict[int, int] = {}
    for e in ev:
        per[e.user_id] = per.get(e.user_id, 0) + 1
    xs = sorted(per.values())
    n, tot = len(xs), sum(xs)
    gini = 2 * sum((i + 1) * x for i, x in enumerate(xs)) / (n * tot) - (n + 1) / n
    hhi = sum(x * x for x in xs) / (tot * tot)
    row = q_host_fairness(spark, SF).collect()[0]
    assert row.n_hosts == n and row.total_fetches == tot
    assert row.gini == round(gini, 6)
    assert row.hhi == round(hhi, 6)
    assert 0.0 <= row.gini < 1.0


# ------------------------------------------------------ boilerplate_lines


def test_boilerplate_lines_detects_planted_chrome(spark):
    from webcrawler_spark.queries import _BP_W, q_boilerplate_lines

    rows = q_boilerplate_lines(spark, SF).collect()
    assert rows
    for r in rows:
        # the planted 8-token chrome line is shared by every doc of its
        # source (>= _BP_MIN_DOCS docs per source at every sf) => at
        # least one boilerplate chunk per doc, and never all chunks
        assert r.n_boiler >= 1, r
        assert r.n_boiler < r.n_chunks, r
        assert r.boiler_frac == round(r.n_boiler / r.n_chunks, 6)


# ---------------------------------------------------- neardup_edit_verify


def test_neardup_edit_verify_finds_planted_mutants(spark):
    from webcrawler_spark.queries import (
        _EV_MUT_OFFSET,
        _EV_MUT_POS,
        _EV_SIM,
        q_neardup_edit_verify,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    planted = set()
    for d in docs:
        toks = [t for t in re.split(r"\s+", d.text.lower()) if t]
        if d.doc_id % 10 == 0 and len(toks) > _EV_MUT_POS:
            planted.add((d.doc_id, d.doc_id + _EV_MUT_OFFSET))
    pairs = {(r.doc_a, r.doc_b): r for r in q_neardup_edit_verify(spark, SF).collect()}
    # every planted mutant pair is found and its edit distance is tiny
    for p in planted:
        assert p in pairs, p
        r = pairs[p]
        assert r.sim >= _EV_SIM
        assert 0 < r.lev <= max(len("qqq"), 12)
    assert planted, "no planted pairs at this sf"


# --------------------------------------------------------- ngram_novelty


def test_ngram_novelty_python_recount(spark):
    from webcrawler_spark.queries import _NOV_N, q_ngram_novelty

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    first: dict[str, int] = {}
    per_doc: dict[int, set] = {}
    for d in sorted(docs, key=lambda d: d.doc_id):
        toks = [t for t in re.split(r"\s+", d.text.lower()) if t]
        if len(toks) < _NOV_N:
            continue
        sh = {" ".join(toks[i : i + _NOV_N]) for i in range(len(toks) - _NOV_N + 1)}
        per_doc[d.doc_id] = sh
        for s in sh:
            first.setdefault(s, d.doc_id)
    got = {r.doc_id: r for r in q_ngram_novelty(spark, SF).collect()}
    assert set(got) == set(per_doc)
    for doc_id, sh in per_doc.items():
        n_novel = sum(1 for s in sh if first[s] == doc_id)
        r = got[doc_id]
        assert r.n_shingles == len(sh)
        assert r.n_novel == n_novel
        assert r.novelty == round(n_novel / len(sh), 6)
    # doc 0 contributes everything it has; later docs should repeat some
    assert got[min(per_doc)].novelty == 1.0
    assert any(r.novelty < 1.0 for r in got.values())


# ----------------------------------------------------------- bitext_mine


def test_bitext_mine_numpy_recount(spark):
    """Round-4 bucketed semantics: assign every vector to its max-cosine
    anchor (lowest _BT_CELLS vec_ids), then mutual-best + margin WITHIN
    each cell — recounted independently in numpy."""
    import numpy as np

    from webcrawler_spark.queries import _BT_CELLS, _BT_MARGIN, q_bitext_mine

    rows = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    rows.sort(key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    anchors = Vn[ids < _BT_CELLS]
    cell = (Vn @ anchors.T).argmax(1)
    want = {}
    for c in range(_BT_CELLS):
        sel_a = (ids % 2 == 0) & (cell == c)
        sel_b = (ids % 2 == 1) & (cell == c)
        a_ids, b_ids = ids[sel_a], ids[sel_b]
        if len(a_ids) == 0 or len(b_ids) < 2:
            continue
        C = Vn[sel_a] @ Vn[sel_b].T
        fb, bb = C.argmax(1), C.argmax(0)
        order = np.argsort(-C, axis=1)
        for i in range(len(a_ids)):
            j = fb[i]
            if bb[j] != i:
                continue
            margin = C[i, j] / C[i, order[i][1]]
            if margin >= _BT_MARGIN - 1e-9:
                want[(int(a_ids[i]), int(b_ids[j]))] = margin
    got = {(r.src, r.dst): r for r in q_bitext_mine(spark, SF).collect()}
    # numpy's float32->float64 matmul differs in ulps from the engines'
    # sequential fold; pairs at the exact threshold may differ — allow
    # only boundary discrepancies
    sym = set(got) ^ set(want)
    for s, d in sym:
        m = want.get((s, d)) or got[(s, d)].margin
        assert abs(m - _BT_MARGIN) < 1e-3, (s, d, m)
    for p, r in got.items():
        if p in want:
            assert abs(r.margin - want[p]) < 1e-4


# ----------------------------------------------------------- vocab_drift


def test_vocab_drift_python_recount(spark):
    import math

    from webcrawler_spark.queries import q_vocab_drift

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    ca: dict[str, int] = {}
    cb: dict[str, int] = {}
    for d in docs:
        tgt = ca if d.doc_id % 2 == 0 else cb
        for t in re.split(r"\s+", d.text.lower()):
            if t:
                tgt[t] = tgt.get(t, 0) + 1
    vocab = set(ca) | set(cb)
    na, nb, v = sum(ca.values()), sum(cb.values()), len(vocab)
    js_pico = 0
    for w in vocab:
        p = (ca.get(w, 0) + 1) / (na + v)
        q = (cb.get(w, 0) + 1) / (nb + v)
        m = (p + q) / 2
        js_pico += round((0.5 * p * math.log(p / m) + 0.5 * q * math.log(q / m)) * 1e12)
    row = q_vocab_drift(spark, SF).collect()[0]
    assert row.n_terms == v and row.tokens_a == na and row.tokens_b == nb
    assert row.js_divergence == round(js_pico / 1e12, 6)
    assert 0.0 <= row.js_divergence <= math.log(2)


# ------------------------------------------------------------ scc_mutual


def _tarjan_scc(n, edges):
    import sys

    sys.setrecursionlimit(100000)
    adj: dict[int, list] = {v: [] for v in range(n)}
    for s, d in edges:
        adj[s].append(d)
    idx, low, onstk, st = {}, {}, set(), []
    out, counter = {}, [0]

    def strong(v0):
        stack = [(v0, 0)]
        while stack:
            v, pi = stack.pop()
            if pi == 0:
                idx[v] = low[v] = counter[0]
                counter[0] += 1
                st.append(v)
                onstk.add(v)
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in idx:
                    stack.append((v, i + 1))
                    stack.append((w, 0))
                    recurse = True
                    break
                elif w in onstk:
                    low[v] = min(low[v], idx[w])
            if not recurse:
                if low[v] == idx[v]:
                    comp = []
                    while True:
                        w = st.pop()
                        onstk.discard(w)
                        comp.append(w)
                        if w == v:
                            break
                    m = min(comp)
                    for w in comp:
                        out[w] = m
                if stack:
                    pv = stack[-1][0]
                    low[pv] = min(low[pv], low[v])

    for v in range(n):
        if v not in idx:
            strong(v)
    return out


def test_scc_mutual_sound_vs_tarjan(spark):
    from webcrawler_spark.queries import q_scc_mutual

    n = spark.read.parquet(f"{SF}/documents.parquet").count()
    edges = set()
    for s in range(n):
        for d in ((s * 7 + 3) % n, (s // 3) % n):
            if d != s:
                edges.add((s, d))
    truth = _tarjan_scc(n, edges)
    rows = q_scc_mutual(spark, SF).collect()
    assert len(rows) == n
    resolved = 0
    for r in rows:
        if r.scc_id is not None:
            resolved += 1
            # one FW-BW round is SOUND: fwd==bwd==m proves v in SCC(m)
            assert truth[r.node] == r.scc_id, (r.node, r.scc_id, truth[r.node])
            assert r.fwd == r.bwd == r.scc_id
    # and it resolves the pivot's component, which is non-trivial here
    assert resolved >= 10, resolved


# ------------------------------------------------------------- bloom_fpr


def test_bloom_fpr_python_recount(spark):
    import hashlib

    from webcrawler_spark.queries import _BF_K, _BF_M, q_bloom_fpr

    ids = [
        r.doc_id for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    ]

    def positions(x):
        return {
            int(hashlib.md5(f"{x}:{j}".encode()).hexdigest()[:8], 16) % _BF_M
            for j in range(_BF_K)
        }

    bits = set()
    mem = [i for i in ids if i % 2 == 0]
    for x in mem:
        bits |= positions(x)
    probes = [i for i in ids if i % 2 == 1]
    fp = sum(1 for y in probes if positions(y) <= bits)
    row = q_bloom_fpr(spark, SF).collect()[0]
    assert row.n_members == len(mem)
    assert row.bits_set == len(bits)
    assert row.n_probes == len(probes)
    assert row.n_false_pos == fp
    assert row.fpr == round(fp / len(probes), 6)
    # no false negatives by construction; analytic rate is in (0, 1)
    assert 0.0 < row.analytic_fpr < 1.0


# --------------------------------------------------- host_graph_collapse


def test_host_graph_collapse_python_recount(spark):
    from webcrawler_spark.queries import _HG_HOSTS, q_host_graph_collapse

    n = spark.read.parquet(f"{SF}/documents.parquet").count()
    edges = set()
    for s in range(n):
        for d in ((s * 7 + 3) % n, (s // 3) % n):
            if d != s:
                edges.add((s, d))
    agg: dict[tuple, list] = {}
    for s, d in edges:
        k = (s % _HG_HOSTS, d % _HG_HOSTS)
        agg.setdefault(k, [0, set()])
        agg[k][0] += 1
        agg[k][1].add(s)
    rows = {(r.host_src, r.host_dst): r for r in q_host_graph_collapse(spark, SF).collect()}
    assert set(rows) == set(agg)
    for k, (w, srcs) in agg.items():
        r = rows[k]
        assert r.weight == w and r.n_src_pages == len(srcs)
        assert r.intra_host == int(k[0] == k[1])
    # total weight conserved across the collapse
    assert sum(r.weight for r in rows.values()) == len(edges)


# ----------------------------------------------------- calibration_bins


def test_calibration_bins_is_calibrated(spark):
    from webcrawler_spark.queries import _CAL_BINS, q_calibration_bins

    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    rows = sorted(q_calibration_bins(spark, SF).collect(), key=lambda r: r.bin)
    assert [r.bin for r in rows] == list(range(_CAL_BINS))
    assert sum(r.n for r in rows) == n_docs
    ece = sum(r.n * r.gap for r in rows) / n_docs
    # labels are drawn with P(y=1)=conf -> near-calibrated up to
    # small-sample noise; ECE bounded well below a broken classifier's
    assert ece < 0.25, ece
    for r in rows:
        lo, hi = r.bin / _CAL_BINS, (r.bin + 1) / _CAL_BINS
        assert lo <= r.mean_conf < hi
        assert r.gap == round(abs(r.mean_conf - r.accuracy), 6) or abs(
            r.gap - abs(r.mean_conf - r.accuracy)
        ) < 2e-6


# ----------------------------------------------------- markov_transitions


def test_markov_transitions_python_recount(spark):
    from webcrawler_spark.queries import q_markov_transitions

    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    by_user: dict[int, list] = {}
    for e in ev:
        by_user.setdefault(e.user_id, []).append(e)
    counts: dict[tuple, int] = {}
    for _, es in by_user.items():
        es.sort(key=lambda e: (e.ts, e.event_id))
        for a, b in zip(es, es[1:]):
            k = (a.event_type, b.event_type)
            counts[k] = counts.get(k, 0) + 1
    totals: dict[str, int] = {}
    for (a, _), c in counts.items():
        totals[a] = totals.get(a, 0) + c
    got = {(r.et, r.next_et): r for r in q_markov_transitions(spark, SF).collect()}
    assert set(got) == set(counts)
    for k, c in counts.items():
        assert got[k].n == c
        assert got[k].p == round(c / totals[k[0]], 6)
    # each source state's probabilities sum to ~1
    for a, t in totals.items():
        s = sum(r.n for (x, _), r in got.items() if x == a)
        assert s == t


# ----------------------------------------------------------- adamic_adar


def test_adamic_adar_python_recount(spark):
    import math

    from webcrawler_spark.queries import _AA_TOP, q_adamic_adar

    n = spark.read.parquet(f"{SF}/documents.parquet").count()
    de = set()
    for s in range(n):
        for d in ((s * 7 + 3) % n, (s // 3) % n):
            if d != s:
                de.add((s, d))
    und = de | {(d, s) for s, d in de}
    nbrs: dict[int, set] = {}
    for s, d in und:
        nbrs.setdefault(s, set()).add(d)
    deg = {z: len(v) for z, v in nbrs.items()}
    pairs: dict[tuple, list] = {}
    for z, vs in nbrs.items():
        # z is the wedge center: its in-neighbours (symmetric set) pair up
        members = sorted(u for u in nbrs if z in nbrs[u])
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                k = (a, b)
                pairs.setdefault(k, [0, 0])
                pairs[k][0] += 1
                pairs[k][1] += round(1e12 / math.log(deg[z]))
    cand = {
        k: v
        for k, v in pairs.items()
        if k not in und and v[0] >= 2
    }
    top = sorted(cand.items(), key=lambda kv: (-kv[1][0], kv[0]))[:_AA_TOP]
    want = {k: (v[0], round(v[1] / 1e12, 6)) for k, v in top}
    got = {(r.a, r.b): (r.common, r.aa_score) for r in q_adamic_adar(spark, SF).collect()}
    assert got == want and len(got) > 0


# ------------------------------------------------------------ cdc_chunks


def test_cdc_chunks_python_recount_and_shift_invariance(spark):
    import hashlib

    from webcrawler_spark.queries import _CDC_D, _CDC_MIN, _CDC_W, q_cdc_chunks

    def cuts_of(text):
        bounds = [
            i
            for i in range(_CDC_W, len(text) + 1)
            if int(hashlib.md5(text[i - _CDC_W : i].encode()).hexdigest()[:8], 16)
            % _CDC_D
            == 0
        ]
        kept = [0]
        for b in bounds:
            if b - kept[-1] >= _CDC_MIN:
                kept.append(b)
        if kept[-1] != len(text):
            kept.append(len(text))
        return kept

    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    got = {r.doc_id: r for r in q_cdc_chunks(spark, SF).collect()}
    assert set(got) == set(docs)
    for doc_id, text in docs.items():
        cuts = cuts_of(text)
        sizes = [b - a for a, b in zip(cuts, cuts[1:])]
        r = got[doc_id]
        assert r.n_chunks == len(sizes)
        assert r.total_len == len(text)
        assert r.max_chunk == max(sizes)
        assert r.mean_chunk == round(len(text) / len(sizes), 4)
    # the CDC property: a prefix insertion only reshuffles chunks near the
    # edit — boundaries after the first post-edit cut are unchanged offsets
    t = docs[sorted(docs)[0]]
    shifted = "xyz " + t
    c1, c2 = cuts_of(t), cuts_of(shifted)
    tail1 = {b for b in c1[1:-1]}
    tail2 = {b - 4 for b in c2[1:-1]}
    assert tail1 & tail2, "no shared content-defined boundaries after shift"


def test_change_rate_estimate_python_recount(spark):
    import hashlib
    import math

    from webcrawler_spark.queries import _CR_VISITS, q_change_rate_estimate

    got = {r.doc_id: r for r in q_change_rate_estimate(spark, SF).collect()}
    ids = [r.doc_id for r in spark.read.parquet(f"{SF}/documents.parquet").select("doc_id").collect()]
    assert set(got) == set(ids)
    for d in ids:
        x = sum(
            1
            for i in range(1, _CR_VISITS + 1)
            if int(hashlib.md5(str(d * 31 + i).encode()).hexdigest()[:8], 16) % 10
            < d % 5 + 1
        )
        interval = d % 3 + 1
        rate = -math.log((_CR_VISITS - x + 0.5) / (_CR_VISITS + 0.5)) / interval
        r = got[d]
        assert r.n_visits == _CR_VISITS and r.n_changed == x
        assert r.interval_days == interval
        assert r.change_rate == round(rate, 6) + 0.0
        assert r.recrawl_days == round(min(365.0, math.log(2) / max(rate, 1e-9)), 4)


def test_vocab_coverage_python_recount(spark):
    import re as _re

    from webcrawler_spark.queries import _VC_PCTS, q_vocab_coverage

    texts = [r.text for r in spark.read.parquet(f"{SF}/documents.parquet").collect()]
    counts: dict[str, int] = {}
    for t in texts:
        for w in _re.split(r"\s+", t.lower()):
            if w:
                counts[w] = counts.get(w, 0) + 1
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(counts.values())
    cum, cums = 0, []
    for _, c in ranked:
        cum += c
        cums.append(cum)
    got = {r.pct: r for r in q_vocab_coverage(spark, SF).collect()}
    assert set(got) == set(_VC_PCTS)
    for pct in _VC_PCTS:
        vs = next(i + 1 for i, c in enumerate(cums) if c * 100 >= pct * total)
        r = got[pct]
        assert r.vocab_size == vs
        assert r.coverage == round(cums[vs - 1] / total, 6)
        # minimality: one fewer type must fall below the target
        if vs > 1:
            assert cums[vs - 2] * 100 < pct * total


def test_sq8_quantize_recount_and_reconstruction_bound(spark):
    import numpy as np

    from webcrawler_spark.queries import q_sq8_quantize

    rows = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    emb = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    mat = np.stack(list(emb.values()))
    mn, mx = mat.min(axis=0), mat.max(axis=0)
    span = np.where(mx == mn, 1.0, mx - mn)
    got = {r.vec_id: r for r in q_sq8_quantize(spark, SF).collect()}
    assert set(got) == set(emb)
    # worst-case reconstruction: half a quantization step per dimension
    bound = float(np.max(((mx - mn) / 255.0 / 2.0) ** 2))
    for vid, v in emb.items():
        # numpy uses round-half-even; re-do HALF_UP explicitly to match both engines
        scaled = (v - mn) / span * 255.0
        q = np.floor(scaled + 0.5).astype(np.int64)
        r = got[vid]
        assert r.q_sum == int(q.sum())
        dq = mn + q / 255.0 * (mx - mn)
        mse = float(((v - dq) ** 2).mean())
        assert abs(r.mse - mse) < 1e-9
        assert r.mse <= bound + 1e-12


def test_random_walks_python_replication(spark):
    import hashlib

    from webcrawler_spark.queries import _RW_START_MOD, _RW_STEPS, q_random_walks

    ids = sorted(
        r.doc_id
        for r in spark.read.parquet(f"{SF}/documents.parquet").select("doc_id").collect()
    )
    n = len(ids)
    adj: dict[int, list[int]] = {}
    for s in ids:
        for d in {(s * 7 + 3) % n, (s // 3) % n}:
            if d != s:
                adj.setdefault(s, []).append(d)
    for s in adj:
        adj[s] = sorted(set(adj[s]))

    def h(x: int) -> int:
        return int(hashlib.md5(str(x).encode()).hexdigest()[:8], 16)

    got = {r.start_id: r for r in q_random_walks(spark, SF).collect()}
    starts = [d for d in ids if d % _RW_START_MOD == 0]
    assert set(got) == set(starts)
    for s in starts:
        node, path = s, [s]
        for t in range(1, _RW_STEPS + 1):
            nbrs = adj.get(node)
            if nbrs:
                node = nbrs[h(node * 131 + t * 7919) % len(nbrs)]
            path.append(node)
        r = got[s]
        assert list(r.path) == path
        assert r.final_node == node
        assert r.n_unique_nodes == len(set(path))


def test_mad_outliers_python_recount(spark):
    from webcrawler_spark.queries import _MAD_K, _MAD_Z, q_mad_outliers

    rows = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "event_type", "value"
    ).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append((r.value, r.event_id))

    expected = {}
    for et, vals in by_type.items():
        svals = sorted(vals)
        med = svals[(len(svals) + 1) // 2 - 1][0]
        devs = sorted((abs(v - med), eid) for v, eid in vals)
        mad = devs[(len(devs) + 1) // 2 - 1][0]
        if mad <= 0:
            continue
        for v, eid in vals:
            z = (v - med) / (_MAD_K * mad)
            if abs(z) > _MAD_Z:
                expected[eid] = (et, v, round(med, 6), round(mad, 6), round(z, 4))

    got = {r.event_id: r for r in q_mad_outliers(spark, SF).collect()}
    assert set(got) == set(expected)
    for eid, (et, v, med, mad, z) in expected.items():
        r = got[eid]
        assert (r.event_type, r.value, r.med, r.mad, r.robust_z) == (et, v, med, mad, z)


def test_silhouette_score_python_replication(spark):
    import numpy as np

    from webcrawler_spark.queries import _KM_ITERS, _KM_K, q_silhouette_score

    rows = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    cent = {
        cid: np.round(vecs[cid].astype(np.float64), 6)
        for cid in sorted(vecs)
        if cid < _KM_K
    }
    assign = {}
    for _ in range(_KM_ITERS):
        assign = {}
        for vid, v in vecs.items():
            d2 = {cid: float(((v - c) ** 2).sum()) for cid, c in cent.items()}
            assign[vid] = min(d2, key=lambda cid: (d2[cid], cid))
        cent = {
            cid: np.round(
                np.mean([vecs[v] for v, c in assign.items() if c == cid], axis=0), 6
            )
            for cid in cent
        }
    sums: dict[int, list] = {}
    for vid, cid in assign.items():
        v = vecs[vid]
        a = float(np.sqrt(((v - cent[cid]) ** 2).sum()))
        b = min(
            float(np.sqrt(((v - cent[o]) ** 2).sum())) for o in cent if o != cid
        )
        s = 0.0 if max(a, b) == 0 else (b - a) / max(a, b)
        sums.setdefault(cid, []).append(s)

    got = {r.cid: r for r in q_silhouette_score(spark, SF).collect()}
    assert set(got) == set(sums)
    assert sum(r.n_vectors for r in got.values()) == len(vecs)
    for cid, ss in sums.items():
        r = got[cid]
        assert r.n_vectors == len(ss)
        # numpy's pairwise float sums can differ from the engines' sequential
        # folds in the last ulp; compare at 1e-5, not exactly
        assert abs(r.mean_sil - sum(ss) / len(ss)) < 1e-5
        assert -1.0 <= r.mean_sil <= 1.0


def test_bfs_levels_python_recount(spark):
    from collections import deque

    from webcrawler_spark.queries import _BFS_ROUNDS, _BFS_SEED_MOD, q_bfs_levels

    ids = sorted(
        r.doc_id
        for r in spark.read.parquet(f"{SF}/documents.parquet").select("doc_id").collect()
    )
    n = len(ids)
    adj: dict[int, set] = {s: set() for s in ids}
    for s in ids:
        for d in {(s * 7 + 3) % n, (s // 3) % n}:
            if d != s:
                adj[s].add(d)
    level = {s: (0 if s % _BFS_SEED_MOD == 0 else None) for s in ids}
    frontier = deque(s for s in ids if level[s] == 0)
    while frontier:
        u = frontier.popleft()
        if level[u] >= _BFS_ROUNDS:
            continue
        for v in adj[u]:
            if level[v] is None or level[v] > level[u] + 1:
                level[v] = level[u] + 1
                frontier.append(v)
    expected = {s: (lv if lv is not None else -1) for s, lv in level.items()}
    got = {r.doc_id: r.level for r in q_bfs_levels(spark, SF).collect()}
    assert got == expected
    assert 0 in set(got.values()) and any(v > 0 for v in got.values())


def test_quantile_normalize_python_recount(spark):
    from webcrawler_spark.queries import q_quantile_normalize

    rows = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "event_type", "value"
    ).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append((r.value, r.event_id))
    expected = {}
    for et, vals in by_type.items():
        svals = sorted(vals)
        n = len(svals)
        # average rank over the tie group, exactly as (min+max)/2
        first = {}
        last = {}
        for idx, (v, _) in enumerate(svals, start=1):
            first.setdefault(v, idx)
            last[v] = idx
        for v, eid in vals:
            avg2 = first[v] + last[v]
            expected[eid] = (et, v, round(avg2 / (2.0 * (n + 1)), 6))
    got = {r.event_id: (r.event_type, r.value, r.u) for r in q_quantile_normalize(spark, SF).collect()}
    assert got == expected
    # uniformity: per type, mean of u close to 0.5
    for et, vals in by_type.items():
        us = [got[eid][2] for _, eid in vals]
        assert abs(sum(us) / len(us) - 0.5) < 0.02


def test_pca_power_python_replication(spark):
    import numpy as np

    from webcrawler_spark.queries import _PCA_DIM, _PCA_ITERS, q_pca_power

    rows = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).collect()
    vids = [r.vec_id for r in rows]
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    n = len(rows)
    mu = np.round(mat.mean(axis=0), 6)
    cx = mat - mu
    C = np.round(cx.T @ cx / n, 6)
    v = np.full(_PCA_DIM, round(1.0 / _PCA_DIM**0.5, 6))
    for _ in range(_PCA_ITERS):
        raw = C @ v
        v = np.round(raw / np.sqrt((raw * raw).sum()), 6)
    lam = float((C @ v) @ v / (v @ v))
    got = {r.vec_id: r for r in q_pca_power(spark, SF).collect()}
    assert set(got) == set(vids)
    for i, vid in enumerate(vids):
        r = got[vid]
        # numpy BLAS sums differ from sequential folds in the last ulp;
        # 6-dp-rounded state keeps the trajectories identical, compare 1e-4
        assert abs(r.proj - round(float(cx[i] @ v), 6)) < 1e-4
        assert abs(r.eigenvalue - lam) < 1e-4
    # the component explains the most variance: projection variance onto v
    # must exceed variance along any coordinate axis
    projs = cx @ v
    assert projs.var() >= max(cx.var(axis=0)) * 0.99


def test_degree_assortativity_python_recount(spark):
    import hashlib

    from webcrawler_spark.queries import _PR_NODES, q_degree_assortativity

    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "user_id").collect()
    edges = set()
    for r in ev:
        s = r.user_id % _PR_NODES
        d = int(hashlib.md5(str(r.event_id).encode()).hexdigest()[:4], 16) % _PR_NODES
        if s != d:
            edges.add((min(s, d), max(s, d)))
    deg: dict[int, int] = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    m = len(edges)
    s_jk = sum(deg[a] * deg[b] for a, b in edges)
    s_sum = sum(deg[a] + deg[b] for a, b in edges)
    s_sq = sum(deg[a] ** 2 + deg[b] ** 2 for a, b in edges)
    mean_half = s_sum / (2.0 * m)
    r_exp = (s_jk / m - mean_half**2) / (s_sq / (2.0 * m) - mean_half**2)
    row = q_degree_assortativity(spark, SF).collect()[0]
    assert row.n_edges == m
    assert row.assortativity == round(r_exp, 6)
    assert -1.0 <= row.assortativity <= 1.0


def test_local_clustering_python_recount(spark):
    import hashlib

    from webcrawler_spark.queries import _PR_NODES, q_local_clustering

    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "user_id").collect()
    edges = set()
    for r in ev:
        s = r.user_id % _PR_NODES
        d = int(hashlib.md5(str(r.event_id).encode()).hexdigest()[:4], 16) % _PR_NODES
        if s != d:
            edges.add((min(s, d), max(s, d)))
    nbrs: dict[int, set] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    got = {r.node: r for r in q_local_clustering(spark, SF).collect()}
    assert set(got) == set(nbrs)
    for v, ns in nbrs.items():
        tri = sum(
            1 for x in ns for y in ns if x < y and (min(x, y), max(x, y)) in edges
        )
        r = got[v]
        assert r.deg == len(ns)
        assert r.n_triangles == tri
        want = round(2.0 * tri / (len(ns) * (len(ns) - 1)), 6) if len(ns) >= 2 else 0.0
        assert r.clustering == want
        assert 0.0 <= r.clustering <= 1.0


def test_stupid_backoff_python_recount(spark):
    import math
    from collections import Counter

    from webcrawler_spark.queries import _SB_ALPHA, q_stupid_backoff_score

    docs = {
        r.doc_id: [t for t in re.split(r"\s+", r.text.lower()) if t]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    tri_of = {
        d: [(t[i], t[i + 1], t[i + 2]) for i in range(len(t) - 2)]
        for d, t in docs.items()
    }
    train = [tg for d, tgs in tri_of.items() if d % 2 == 0 for tg in tgs]
    c3g = Counter(train)
    c12 = Counter((a, b) for a, b, _ in train)
    c23 = Counter((b, c) for _, b, c in train)
    c2 = Counter(b for _, b, _ in train)
    c3 = Counter(c for _, _, c in train)
    n = len(train)
    a = _SB_ALPHA
    got = {r.doc_id: r for r in q_stupid_backoff_score(spark, SF).collect()}
    expected_ids = {d for d, tgs in tri_of.items() if d % 2 == 1 and tgs}
    assert set(got) == expected_ids
    for d in expected_ids:
        lv = [0, 0, 0, 0]
        nano = 0
        for tg in tri_of[d]:
            if tg in c3g:
                s = c3g[tg] / c12[(tg[0], tg[1])]
                lv[0] += 1
            elif (tg[1], tg[2]) in c23:
                s = a * c23[(tg[1], tg[2])] / c2[tg[1]]
                lv[1] += 1
            elif tg[2] in c3:
                s = a * a * c3[tg[2]] / n
                lv[2] += 1
            else:
                s = a * a / n
                lv[3] += 1
            nano += round(math.log(s) * 1e9)
        r = got[d]
        assert (r.n_tri, r.n_bi, r.n_uni, r.n_oov) == tuple(lv)
        assert r.n_trigrams == len(tri_of[d])
        assert abs(r.mean_logscore - round(nano / 1e9 / len(tri_of[d]), 6)) < 2e-6


def test_attack_robustness_python_cc(spark):
    import hashlib

    from webcrawler_spark.queries import (
        _AR_REMOVE_K,
        _PR_NODES,
        q_attack_robustness,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "user_id").collect()
    edges = set()
    for r in ev:
        s = r.user_id % _PR_NODES
        d = int(hashlib.md5(str(r.event_id).encode()).hexdigest()[:4], 16) % _PR_NODES
        if s != d:
            edges.add((min(s, d), max(s, d)))
    nodes = {n for e in edges for n in e}
    deg: dict[int, int] = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    hubs = set(
        n for n, _ in sorted(deg.items(), key=lambda kv: (-kv[1], kv[0]))[:_AR_REMOVE_K]
    )

    def lcc(vs, es):
        nbr: dict[int, set] = {v: set() for v in vs}
        for a, b in es:
            nbr[a].add(b)
            nbr[b].add(a)
        seen, best = set(), 0
        for v in vs:
            if v in seen:
                continue
            comp, stack = 0, [v]
            seen.add(v)
            while stack:
                u = stack.pop()
                comp += 1
                for w in nbr[u]:
                    if w not in seen:
                        seen.add(w)
                        stack.append(w)
            best = max(best, comp)
        return best

    vs2 = nodes - hubs
    es2 = {(a, b) for a, b in edges if a not in hubs and b not in hubs}
    r = q_attack_robustness(spark, SF).collect()[0]
    assert r.n_nodes == len(nodes)
    assert r.n_edges == len(edges)
    assert r.lcc_full == lcc(nodes, edges)
    assert r.lcc_attacked == lcc(vs2, es2)
    assert r.lcc_frac_after == round(lcc(vs2, es2) / (len(nodes) - _AR_REMOVE_K), 6)


def test_hll_merge_python_recount_and_error_bound(spark):
    import hashlib
    import math

    from webcrawler_spark.queries import _HLL_P, q_hll_merge

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("source", "text").collect()
    toks = set()
    per_src = set()
    for r in docs:
        for w in re.split(r"\s+", r.text.lower()):
            if w:
                toks.add(w)
                per_src.add((r.source, w))
    m = 1 << _HLL_P
    low = 60 - _HLL_P
    regs: dict[int, int] = {}
    for _, w in per_src:
        hv = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
        b, rest = hv >> low, hv & ((1 << low) - 1)
        rho = low + 1 if rest == 0 else low - rest.bit_length() + 1
        regs[b] = max(regs.get(b, 0), rho)
    s_total = sum(1 << (52 - r) for r in regs.values()) + (m - len(regs)) * (1 << 52)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    raw = alpha * m * m * float(1 << 52) / s_total
    zeros = m - len(regs)
    est = m * math.log(m / zeros) if (raw <= 2.5 * m and zeros > 0) else raw
    r = q_hll_merge(spark, SF).collect()[0]
    assert r.exact_distinct == len(toks)
    assert r.hll_estimate == round(est, 4)
    # merged estimate within ~5 standard errors of truth
    assert r.rel_err < 5 * 1.04 / math.sqrt(m)


def test_char_entropy_python_recount(spark):
    import math
    from collections import Counter

    from webcrawler_spark.queries import q_char_entropy

    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    got = {r.doc_id: r for r in q_char_entropy(spark, SF).collect()}
    assert set(got) == set(docs)
    for d, text in docs.items():
        c = Counter(text)
        n = len(text)
        micro = sum(round(-(k / n) * math.log2(k / n) * 1e6) for k in c.values())
        r = got[d]
        assert r.n_chars == n
        assert r.n_distinct_chars == len(c)
        assert abs(r.entropy_bits - round(micro / 1e6, 6)) < 2e-6
        assert 0.0 < r.entropy_bits < math.log2(len(c)) + 1e-9


def test_url_path_rollup_python_recount(spark):
    from collections import defaultdict

    from webcrawler_spark.queries import q_url_path_rollup

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "n_chars").collect()
    agg = defaultdict(lambda: [0, 0, 0])  # (host,prefix) -> [depth, n, bytes]
    for r in docs:
        host = f"h{r.doc_id % 10}"
        s1 = f"/s{r.doc_id % 5}"
        s2 = f"{s1}/t{r.doc_id % 7}"
        s3 = f"{s2}/p{r.doc_id}"
        for d, p in enumerate((s1, s2, s3), start=1):
            a = agg[(host, p)]
            a[0] = max(a[0], d)
            a[1] += 1
            a[2] += r.n_chars
    got = {(r.host, r.prefix): r for r in q_url_path_rollup(spark, SF).collect()}
    assert set(got) == set(agg)
    for k, (d, n, b) in agg.items():
        r = got[k]
        assert (r.depth, r.n_pages, r.bytes) == (d, n, b)
    # mass conservation: depth-1 totals equal the corpus
    assert sum(r.n_pages for r in got.values() if r.depth == 1) == len(docs)


def test_histogram_quantiles_python_recount(spark):
    import math
    from collections import Counter

    from webcrawler_spark.queries import _HQ_BINS, _HQ_QS, q_histogram_quantiles

    rows = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "event_type", "value"
    ).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append((r.value, r.event_id))
    got = {(r.event_type, r.q): r for r in q_histogram_quantiles(spark, SF).collect()}
    for et, vals in by_type.items():
        lo = min(v for v, _ in vals)
        hi = max(v for v, _ in vals)
        n = len(vals)
        w = (hi - lo) / _HQ_BINS
        bins = Counter(
            0 if hi == lo else min(_HQ_BINS - 1, int(math.floor((v - lo) / w)))
            for v, _ in vals
        )
        svals = sorted(vals)
        for q in _HQ_QS:
            cum = 0
            for b in sorted(bins):
                prev = cum
                cum += bins[b]
                if cum >= q * n:
                    est = lo + w * (b + (q * n - prev) / bins[b])
                    break
            exact = svals[math.ceil(q * n) - 1][0]
            r = got[(et, q)]
            assert r.exact_q == exact
            assert abs(r.hist_q - round(est, 6)) < 2e-6
            assert r.abs_err == round(abs(est - exact), 6)
            # the audit property: estimate lands within one bin width
            assert abs(r.hist_q - r.exact_q) <= w + 1e-9


def test_bowtie_structure_python_reachability(spark):
    import hashlib

    from webcrawler_spark.queries import _PR_NODES, q_bowtie_structure

    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "user_id").collect()
    edges = set()
    for r in ev:
        s = r.user_id % _PR_NODES
        d = int(hashlib.md5(str(r.event_id).encode()).hexdigest()[:4], 16) % _PR_NODES
        if s != d:
            edges.add((s, d))
    nodes = {n for e in edges for n in e}
    fwd: dict[int, set] = {}
    bwd: dict[int, set] = {}
    for s, d in edges:
        fwd.setdefault(s, set()).add(d)
        bwd.setdefault(d, set()).add(s)

    def reach(start, adj):
        seen, stack = {start}, [start]
        while stack:
            u = stack.pop()
            for v in adj.get(u, ()):
                if v not in seen:
                    seen.add(v)
                    stack.append(v)
        return seen

    m = min(nodes)
    from_m = reach(m, fwd)  # m reaches these
    to_m = reach(m, bwd)  # these reach m
    got = {r.node: r.component for r in q_bowtie_structure(spark, SF).collect()}
    assert set(got) == nodes
    for v in nodes:
        if v in from_m and v in to_m:
            want = "CORE"
        elif v in to_m:
            want = "IN"
        elif v in from_m:
            want = "OUT"
        else:
            want = "OTHER"
        assert got[v] == want, (v, got[v], want)
    assert got[m] == "CORE"


def test_landmark_closeness_python_recount(spark):
    import hashlib
    from collections import deque

    from webcrawler_spark.queries import (
        _LC_LANDMARKS,
        _LC_ROUNDS,
        _PR_NODES,
        q_landmark_closeness,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "user_id").collect()
    sym: dict[int, set] = {}
    for r in ev:
        s = r.user_id % _PR_NODES
        d = int(hashlib.md5(str(r.event_id).encode()).hexdigest()[:4], 16) % _PR_NODES
        if s != d:
            sym.setdefault(s, set()).add(d)
            sym.setdefault(d, set()).add(s)
    nodes = set(sym)
    rate = _PR_NODES // _LC_LANDMARKS
    lms = [
        n
        for n in sorted(nodes)
        if int(hashlib.md5(str(n).encode()).hexdigest()[:8], 16) % rate == 0
    ]

    def bfs(src):
        dist = {src: 0}
        dq = deque([src])
        while dq:
            u = dq.popleft()
            if dist[u] >= _LC_ROUNDS:
                continue
            for v in sym.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    dq.append(v)
        return dist

    dists = {lm: bfs(lm) for lm in lms}
    got = {r.node: r for r in q_landmark_closeness(spark, SF).collect()}
    assert set(got) == nodes
    for v in nodes:
        ds = [dists[lm][v] for lm in lms if v in dists[lm] and dists[lm][v] > 0]
        nano = sum(round(1e9 / d) for d in ds)
        r = got[v]
        assert r.n_landmarks == len(lms)
        assert r.n_reached == len(ds)
        assert r.harmonic == round(nano / 1e9, 6)


def test_host_reputation_ewma_python_recount(spark):
    from webcrawler_spark.queries import _EWMA_ALPHA, _PR_NODES, q_host_reputation_ewma

    rows = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "ts", "event_id", "value"
    ).collect()
    by_host: dict[int, list] = {}
    for r in rows:
        by_host.setdefault(r.user_id % _PR_NODES, []).append((r.ts, r.event_id, r.value))
    got = {r.host: r for r in q_host_reputation_ewma(spark, SF).collect()}
    assert set(got) == set(by_host)
    for h, evs in by_host.items():
        evs.sort()
        ewma = None
        for _, _, v in evs:
            ewma = v if ewma is None else _EWMA_ALPHA * v + (1 - _EWMA_ALPHA) * ewma
        r = got[h]
        assert r.n_events == len(evs)
        assert r.ewma == round(ewma, 6)
        # recency weighting: the last event pulls EWMA away from the mean
        # toward itself (sanity, not equality)
        assert abs(r.ewma - evs[-1][2]) <= abs(r.plain_mean - evs[-1][2]) + 60.0


def test_edge_triangle_support_python_recount(spark):
    import hashlib

    from webcrawler_spark.queries import _PR_NODES, q_edge_triangle_support

    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "user_id").collect()
    edges = set()
    for r in ev:
        s = r.user_id % _PR_NODES
        d = int(hashlib.md5(str(r.event_id).encode()).hexdigest()[:4], 16) % _PR_NODES
        if s != d:
            edges.add((min(s, d), max(s, d)))
    nbrs: dict[int, set] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    got = {(r.a, r.b): r for r in q_edge_triangle_support(spark, SF).collect()}
    assert set(got) == edges
    total_support = 0
    for (a, b), r in got.items():
        sup = len(nbrs[a] & nbrs[b])
        assert r.support == sup
        assert r.in_4truss == (sup >= 2)
        total_support += sup
    # each triangle contributes support 1 to exactly 3 edges
    assert total_support % 3 == 0


def test_crawl_trap_score_planted_hosts(spark):
    import hashlib

    from webcrawler_spark.queries import _TRAP_HOSTS, q_crawl_trap_score

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").collect()
    agg: dict[str, tuple] = {}
    from collections import defaultdict

    urls = defaultdict(set)
    digs = defaultdict(set)
    for r in docs:
        h = r.doc_id % 10
        host = f"h{h}"
        urls[host].add(f"/p{r.doc_id}")
        if h in _TRAP_HOSTS:
            digs[host].add(hashlib.md5(str(r.doc_id % 3).encode()).hexdigest())
        else:
            digs[host].add(hashlib.md5(r.text.encode()).hexdigest())
    got = {r.host: r for r in q_crawl_trap_score(spark, SF).collect()}
    assert set(got) == set(urls)
    for host in urls:
        r = got[host]
        assert r.n_urls == len(urls[host])
        assert r.n_digests == len(digs[host])
        dup = 1.0 - len(digs[host]) / len(urls[host])
        assert r.dup_ratio == round(dup, 6)
        assert r.is_trap == (dup > 0.5)
        # planted traps and only planted traps flag
        assert r.is_trap == (int(host[1:]) in _TRAP_HOSTS)


def test_frontier_branching_consistent_with_bfs(spark):
    from collections import Counter

    from webcrawler_spark.queries import q_bfs_levels, q_frontier_branching

    levels = Counter(
        r.level for r in q_bfs_levels(spark, SF).collect() if r.level >= 0
    )
    got = {r.level: r for r in q_frontier_branching(spark, SF).collect()}
    assert set(got) == set(levels)
    prev = None
    for lv in sorted(levels):
        r = got[lv]
        assert r.n_nodes == levels[lv]
        if prev is None:
            assert r.branching is None
        else:
            assert r.branching == round(levels[lv] / prev, 6)
        prev = levels[lv]


def test_bbit_minhash_python_replication(spark):
    import hashlib

    from webcrawler_spark.queries import _BBIT_K, q_bbit_minhash

    docs = {
        r.doc_id: [t for t in re.split(r"\s+", r.text.lower()) if t]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    sh = {
        d: set(" ".join(t[i : i + 3]) for i in range(len(t) - 2))
        for d, t in docs.items()
        if len(t) >= 3
    }

    def sig(shingles):
        out = 0
        for j in range(_BBIT_K):
            mn = min(
                int(hashlib.md5(f"{s}#{j}".encode()).hexdigest()[:15], 16)
                for s in shingles
            )
            out |= (mn % 2) << j
        return out

    got = {(r.a_id, r.b_id): r for r in q_bbit_minhash(spark, SF).collect()}
    expected_pairs = {(d, d + 1) for d in sh if d + 1 in sh}
    assert set(got) == expected_pairs
    import random

    for a, b in sorted(expected_pairs)[:20]:
        agree = (_BBIT_K - bin(sig(sh[a]) ^ sig(sh[b])).count("1")) / _BBIT_K
        est = 2.0 * (agree - 0.5)
        exact = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        r = got[(a, b)]
        assert r.jaccard_exact == round(exact, 6)
        assert r.jaccard_bbit == round(est, 6)
        assert r.abs_err == round(abs(est - exact), 6)


def test_kmv_distinct_python_replication(spark):
    """Exact replication of the KMV estimator: 48-bit md5 draws, k-th
    minimum, (k-1)/h_k estimate, with the below-k lossless fallback."""
    import hashlib

    from webcrawler_spark.queries import _KMV_K, _KMV_SCALE, q_kmv_distinct

    toks: dict[str, set] = {}
    for r in spark.read.parquet(f"{SF}/documents.parquet").collect():
        toks.setdefault(r.lang, set()).update(
            t for t in re.split(r"\s+", r.text.lower()) if t
        )
    got = {r.lang: r for r in q_kmv_distinct(spark, SF).collect()}
    assert set(got) == set(toks)
    for lang, ts in toks.items():
        hs = sorted(int(hashlib.md5(t.encode()).hexdigest()[:12], 16) for t in ts)
        r = got[lang]
        assert r.exact_distinct == len(ts)
        if len(hs) < _KMV_K:
            est = float(len(hs))
        else:
            est = (_KMV_K - 1) * _KMV_SCALE / hs[_KMV_K - 1]
        assert r.kmv_est == round(est, 4)
        assert r.rel_err == round((est - len(ts)) / len(ts), 6)
        # the k=64 sketch should land within 35% at these cardinalities
        assert abs(r.rel_err) < 0.35


def test_skew_salt_plan_python_recount(spark):
    import math

    from webcrawler_spark.queries import _SALT_CAP, q_skew_salt_plan

    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    counts: dict[int, int] = {}
    for r in ev:
        h = int(math.floor(math.sqrt(r.user_id)))
        counts[h] = counts.get(h, 0) + 1
    total, n_hosts = sum(counts.values()), len(counts)
    rows = {r.host: r for r in q_skew_salt_plan(spark, SF).collect()}
    assert set(rows) == set(counts)
    assert sum(r.cnt for r in rows.values()) == total  # mass conservation
    for h, c in counts.items():
        r = rows[h]
        assert r.cnt == c
        assert r.share_ppm == c * 1000000 // total
        assert r.salt_k == (c + _SALT_CAP - 1) // _SALT_CAP
        assert r.heavy == int(c * n_hosts > 2 * total)
    # the sqrt collapse genuinely plants skew: top host must need salting
    top = max(counts.values())
    assert rows[max(counts, key=counts.get)].salt_k == (top + _SALT_CAP - 1) // _SALT_CAP
    assert any(r.salt_k > 1 for r in rows.values())


def test_weighted_minhash_python_replication(spark):
    import hashlib

    from webcrawler_spark.queries import _WMH_CAP, _WMH_K, q_weighted_minhash

    docs = {
        r.doc_id: [t for t in re.split(r"\s+", r.text.lower()) if t]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    exp = {}
    for d, toks in docs.items():
        if not toks:
            continue
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        exp[d] = {f"{t}#{i}" for t, c in tf.items() for i in range(1, min(c, _WMH_CAP) + 1)}

    def mins(es):
        return [
            min(int(hashlib.md5(f"{s}@{j}".encode()).hexdigest()[:15], 16) for s in es)
            for j in range(_WMH_K)
        ]

    got = {(r.a_id, r.b_id): r for r in q_weighted_minhash(spark, SF).collect()}
    expected_pairs = {(d, d + 1) for d in exp if d + 1 in exp}
    assert set(got) == expected_pairs
    for a, b in sorted(expected_pairs)[:15]:
        ma, mb = mins(exp[a]), mins(exp[b])
        est = sum(1 for x, y in zip(ma, mb) if x == y) / _WMH_K
        exact = len(exp[a] & exp[b]) / len(exp[a] | exp[b])
        r = got[(a, b)]
        assert r.wjac_exact == round(exact, 6)
        assert r.wjac_est == round(est, 6)
        assert r.abs_err == round(abs(est - exact), 6)


def test_weighted_minhash_weight_sensitivity(spark):
    """The defining property plain Jaccard lacks: same vocabulary,
    different term emphasis => weighted Jaccard < 1 while set Jaccard = 1."""
    from webcrawler_spark.queries import _WMH_CAP

    # capped-tf expansion of 'x x x y' vs 'x y y y': set Jaccard is 1.0,
    # capped weighted Jaccard is |{x1,y1} u partial|: min-sum/max-sum = (1+1)/(3+3)
    a = {"x#1", "x#2", "x#3", "y#1"}
    b = {"x#1", "y#1", "y#2", "y#3"}
    assert _WMH_CAP >= 3
    assert len(a & b) / len(a | b) == 2 / 6


def test_unseen_mass_gt_python_recount(spark):
    from webcrawler_spark.queries import q_unseen_mass_gt

    tf: dict[str, dict[str, int]] = {}
    for r in spark.read.parquet(f"{SF}/documents.parquet").collect():
        d = tf.setdefault(r.lang, {})
        for t in re.split(r"\s+", r.text.lower()):
            if t:
                d[t] = d.get(t, 0) + 1
    rows = {r.lang: r for r in q_unseen_mass_gt(spark, SF).collect()}
    assert set(rows) == set(tf)
    for lang, d in tf.items():
        n = sum(d.values())
        v = len(d)
        n1 = sum(1 for c in d.values() if c == 1)
        n2 = sum(1 for c in d.values() if c == 2)
        r = rows[lang]
        assert (r.n_tokens, r.vocab, r.hapax, r.dis) == (n, v, n1, n2)
        assert r.p0_unseen == round(n1 / n, 6)
        assert r.chao1 == round(v + (n1 * (n1 - 1)) / (2.0 * (n2 + 1)), 4)
        # estimator sanity: chao1 never below observed vocabulary
        assert r.chao1 >= v


def test_term_burstiness_python_recount(spark):
    from webcrawler_spark.queries import _BURST_TOP, q_term_burstiness

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    d_total = len(docs)
    per: dict[str, dict[int, int]] = {}
    for r in docs:
        for t in re.split(r"\s+", r.text.lower()):
            if t:
                per.setdefault(t, {}).setdefault(r.doc_id, 0)
                per[t][r.doc_id] += 1
    stats = {
        t: (len(cs), sum(cs.values()), sum(c * c for c in cs.values()))
        for t, cs in per.items()
    }
    top = sorted(stats.items(), key=lambda kv: (-kv[1][1], kv[0]))[:_BURST_TOP]
    got = q_term_burstiness(spark, SF).collect()
    assert [r.term for r in got] == [t for t, _ in top]
    for r, (t, (df, cnt, sumsq)) in zip(got, top):
        assert (r.df, r.cnt) == (df, cnt)
        assert r.vmr == round(sumsq / cnt - cnt / d_total, 6)
    # function words dominate the top-count list; a Poisson-ish term has
    # VMR near 1 while the most bursty term must exceed it
    assert max(r.vmr for r in got) > min(r.vmr for r in got)


def test_politeness_compliance_python_recount(spark):
    from webcrawler_spark.queries import _PC_HOSTS, q_politeness_compliance

    ev = sorted(
        spark.read.parquet(f"{SF}/events.parquet").collect(),
        key=lambda r: (r.ts, r.event_id),
    )
    by_host: dict[int, list] = {}
    for r in ev:
        by_host.setdefault(r.user_id % _PC_HOSTS, []).append(r.ts)
    rows = {r.host: r for r in q_politeness_compliance(spark, SF).collect()}
    assert set(rows) == set(by_host)
    for h, tss in by_host.items():
        delay_us = (1 + h % 5) * 1_000_000
        gaps = [
            int((b - a).total_seconds() * 1_000_000)
            for a, b in zip(tss, tss[1:])
        ]
        viol = sum(1 for g in gaps if g < delay_us)
        r = rows[h]
        assert r.delay_us == delay_us
        assert r.fetches == len(tss)
        assert r.violations == viol
        assert r.violation_ppm == viol * 1_000_000 // max(len(tss) - 1, 1)
        assert r.min_gap_us == (min(gaps) if gaps else -1)


def test_rendezvous_sharding_python_replication_and_minimal_movement(spark):
    import hashlib

    from webcrawler_spark.queries import _HRW_SHARDS, q_rendezvous_sharding

    doc_ids = [
        r.doc_id for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    ]
    urls = [f"h{d % 10}/s{d % 5}/p{d}" for d in doc_ids]

    def owner(url, n):
        hs = [
            int(hashlib.md5(f"{url}|{s}".encode()).hexdigest()[:15], 16)
            for s in range(n)
        ]
        return hs.index(max(hs))

    per_shard: dict[int, int] = {}
    moved: dict[int, int] = {}
    for u in urls:
        s8 = owner(u, _HRW_SHARDS)
        s9 = owner(u, _HRW_SHARDS + 1)
        per_shard[s8] = per_shard.get(s8, 0) + 1
        if s9 == _HRW_SHARDS:
            moved[s8] = moved.get(s8, 0) + 1
        else:
            # HRW's defining property: keys that don't go to the NEW
            # shard never move at all
            assert s9 == s8
    rows = {r.shard: r for r in q_rendezvous_sharding(spark, SF).collect()}
    assert set(rows) == set(per_shard)
    for s, r in rows.items():
        assert r.n_keys == per_shard[s]
        assert r.moved_out == moved.get(s, 0)
    # expansion steals ~1/9 of keys (binomial slack for the small corpus)
    total = sum(per_shard.values())
    total_moved = sum(moved.values())
    assert 0.02 < total_moved / total < 0.30


# ------------------------------------------------------------ winnow_fingerprints


def test_winnow_fingerprints_python_replication(spark):
    import hashlib
    import math

    from webcrawler_spark.queries import _WIN_K, _WIN_W, q_winnow_fingerprints

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    exp = {}
    for d in docs:
        toks = [t for t in re.split(r"\s+", d.text.lower()) if t]
        if len(toks) < _WIN_K + _WIN_W - 1:
            continue
        kgrams = [
            " ".join(toks[i : i + _WIN_K]) for i in range(len(toks) - _WIN_K + 1)
        ]
        hashes = [int(hashlib.md5(k.encode()).hexdigest()[:12], 16) for k in kgrams]
        fps = sorted(
            {min(hashes[j : j + _WIN_W]) for j in range(len(hashes) - _WIN_W + 1)}
        )
        exp[d.doc_id] = (
            len(hashes),
            len(fps),
            math.floor(len(hashes) / len(fps)),
            min(fps),
        )
    got = {
        r.doc_id: (r.n_kgrams, r.n_selected, r.stride, r.min_fp)
        for r in q_winnow_fingerprints(spark, SF).collect()
    }
    assert got == exp
    # winnowing coverage: every window contributed a fingerprint, and a
    # fingerprint covers <= w windows => n_selected >= n_windows / w
    for n_kgrams, n_sel, _, _ in got.values():
        n_windows = n_kgrams - _WIN_W + 1
        assert n_sel * _WIN_W >= n_windows
        assert n_sel <= n_windows


def test_winnow_fingerprints_shared_prefix_shares_fps(spark):
    """Two texts sharing a long prefix must share winnowed fingerprints
    (the property doc_fingerprint's whole-doc md5 cannot give)."""
    import hashlib

    from webcrawler_spark.queries import _WIN_K, _WIN_W

    def winnow(text):
        toks = [t for t in text.lower().split() if t]
        kgrams = [
            " ".join(toks[i : i + _WIN_K]) for i in range(len(toks) - _WIN_K + 1)
        ]
        hashes = [int(hashlib.md5(k.encode()).hexdigest()[:12], 16) for k in kgrams]
        return {min(hashes[j : j + _WIN_W]) for j in range(len(hashes) - _WIN_W + 1)}

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    a = winnow(base + "lambda mu nu xi")
    b = winnow(base + "omicron pi rho sigma")
    inter = len(a & b)
    assert inter > 0
    assert inter / max(len(a | b), 1) > 0.5


# ------------------------------------------------------------------- psi_drift


def test_psi_drift_python_replication(spark):
    import math

    from webcrawler_spark.queries import _PSI_BINS, q_psi_drift

    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_type", "value").collect()
    vals = [(r.event_type, float(r.value)) for r in ev]
    lo = min(v for _, v in vals)
    hi = max(v for _, v in vals)
    n_all = len(vals)
    width = (hi - lo) / _PSI_BINS
    per: dict[tuple[str, int], int] = {}
    for t, v in vals:
        b = min(int(math.floor((v - lo) / width)), _PSI_BINS - 1)
        per[(t, b)] = per.get((t, b), 0) + 1
    types = sorted({t for t, _ in vals})
    gbin = {b: sum(per.get((t, b), 0) for t in types) for b in range(_PSI_BINS)}
    rows = {r.event_type: r for r in q_psi_drift(spark, SF).collect()}
    assert set(rows) == set(types)
    for t in types:
        n_type = sum(per.get((t, b), 0) for b in range(_PSI_BINS))
        psi = 0.0
        for b in range(_PSI_BINS):
            p = (per.get((t, b), 0) + 0.5) / (n_type + 0.5 * _PSI_BINS)
            q = (gbin[b] + 0.5) / (n_all + 0.5 * _PSI_BINS)
            psi += (p - q) * math.log(p / q)
        r = rows[t]
        assert r.n_type == n_type
        assert abs(r.psi - psi) < 2e-6
        # each PSI term (p-q)ln(p/q) is non-negative => PSI >= 0
        assert r.psi >= 0


# ----------------------------------------------------------------- code_detect


def test_code_detect_python_recount(spark):
    from webcrawler_spark.queries import q_code_detect

    sym = re.compile(r"[{}();=<>\[\]]")
    kw = re.compile(
        r"\b(def|return|import|function|var|const|class|void|lambda)\b"
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    got = {r.doc_id: r for r in q_code_detect(spark, SF).collect()}
    assert len(got) == len(docs)
    for d in docs:
        s = len(sym.findall(d.text))
        k = len(kw.findall(d.text.lower()))
        n = len(d.text)
        r = got[d.doc_id]
        assert (r.sym_cnt, r.kw_hits) == (s, k)
        assert r.sym_ppm == s * 1_000_000 // max(n, 1)
        assert r.is_code == int(s * 50 > n or k >= 3)


def test_code_detect_flags_synthetic_code():
    """The thresholds fire on real code and stay quiet on prose."""
    code = "def f(x):\n    return [y*2 for y in range(x)];\nclass A: pass\nimport os\n"
    prose = "the quick brown fox jumps over the lazy dog again and again today"
    sym = re.compile(r"[{}();=<>\[\]]")
    kw = re.compile(r"\b(def|return|import|function|var|const|class|void|lambda)\b")
    s_code, k_code = len(sym.findall(code)), len(kw.findall(code.lower()))
    s_pr, k_pr = len(sym.findall(prose)), len(kw.findall(prose.lower()))
    assert s_code * 50 > len(code) or k_code >= 3
    assert not (s_pr * 50 > len(prose) or k_pr >= 3)


# ----------------------------------------------------------- zorder_keys


def test_zorder_python_replication(spark):
    """Exact replication of the quantize+interleave arithmetic, plus the
    bijectivity property: de-interleaving each zval recovers (x16, y16)."""
    from webcrawler_spark.queries import q_zorder_keys

    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    import calendar

    def ms(ts):
        return calendar.timegm(ts.timetuple()) * 1000 + ts.microsecond // 1000

    minu = min(e.user_id for e in ev)
    maxu = max(e.user_id for e in ev)
    tvals = [ms(e.ts) for e in ev]
    mint, maxt = min(tvals), max(tvals)

    def q16(v, lo, hi):
        return (v - lo) * 65535 // max(hi - lo, 1)

    def morton(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i + 1)
            z |= ((y >> i) & 1) << (2 * i)
        return z

    want = {}
    for e in ev:
        x = q16(e.user_id, minu, maxu)
        y = q16(ms(e.ts), mint, maxt)
        want[e.event_id] = (x, y, morton(x, y))

    rows = q_zorder_keys(spark, SF).collect()
    assert len(rows) == len(ev)
    for r in rows:
        x, y, z = want[r.event_id]
        assert (r.x16, r.y16, r.zval) == (x, y, z), r
        assert r.zfile == z >> 22
        assert 0 <= r.zfile < 1024
        # de-interleave recovers both quantized dims exactly
        xr = sum(((r.zval >> (2 * i + 1)) & 1) << i for i in range(16))
        yr = sum(((r.zval >> (2 * i)) & 1) << i for i in range(16))
        assert (xr, yr) == (r.x16, r.y16)


def test_zorder_locality_beats_single_dim(spark):
    """The point of the layout: range-partitioning by zval bounds BOTH
    dims per file, where a single-dim sort leaves the other dim
    unconstrained. Pin it: average per-file (x-span + y-span) under a
    zval sort is strictly smaller than under a y-only sort."""
    from webcrawler_spark.queries import q_zorder_keys

    rows = q_zorder_keys(spark, SF).collect()
    nfiles = 16
    per_file = max(1, len(rows) // nfiles)

    def spans(sorted_rows):
        tot = 0
        for i in range(0, len(sorted_rows), per_file):
            chunk = sorted_rows[i : i + per_file]
            tot += max(c.x16 for c in chunk) - min(c.x16 for c in chunk)
            tot += max(c.y16 for c in chunk) - min(c.y16 for c in chunk)
        return tot

    by_z = spans(sorted(rows, key=lambda r: r.zval))
    by_y = spans(sorted(rows, key=lambda r: r.y16))
    assert by_z < by_y, (by_z, by_y)


# ----------------------------------------------- posting_delta_bytes


def test_posting_delta_python_recount(spark):
    from webcrawler_spark.queries import q_posting_delta_bytes

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    postings: dict[str, set] = {}
    for d in docs:
        for t in re.split(r"\s+", d.text.lower()):
            if t:
                postings.setdefault(t, set()).add(d.doc_id)

    def vb(g):
        return 1 + (g >= 128) + (g >= 16384) + (g >= 2097152) + (g >= 268435456)

    want = {}
    for term, ids in postings.items():
        s = sorted(ids)
        gaps = [s[0] + 1] + [b - a for a, b in zip(s, s[1:])]
        want[term] = (len(s), sum(vb(g) for g in gaps))

    rows = q_posting_delta_bytes(spark, SF).collect()
    assert {r.term for r in rows} == set(want)
    for r in rows:
        df, vbytes = want[r.term]
        assert (r.df, r.varint_bytes) == (df, vbytes), r
        assert r.raw_bytes == 8 * df
        assert 1 <= r.varint_bytes <= r.raw_bytes
        assert r.savings_ppm == (r.raw_bytes - r.varint_bytes) * 1_000_000 // r.raw_bytes
    # dense postings compress: the corpus-wide savings must be real
    tot_raw = sum(r.raw_bytes for r in rows)
    tot_var = sum(r.varint_bytes for r in rows)
    assert tot_var * 2 < tot_raw, (tot_var, tot_raw)


# ----------------------------------------------------------- roc_auc


def test_roc_auc_exact_fraction(spark):
    """Recompute AUC per lang as an exact Fraction via the pairwise
    definition (wins + ties/2) / (np*nn) and pin floor(frac * 1e6)
    against the rank-sum implementation."""
    from fractions import Fraction
    import hashlib

    from webcrawler_spark.queries import _AUC_THRESH, q_roc_auc

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    by_lang: dict[str, list] = {}
    for d in docs:
        h = int(hashlib.md5(str(d.doc_id).encode()).hexdigest()[:8], 16) % 400
        y = int(d.n_chars + h > _AUC_THRESH)
        by_lang.setdefault(d.lang, []).append((d.n_chars, y))

    rows = {r.lang: r for r in q_roc_auc(spark, SF).collect()}
    assert set(rows) == set(by_lang)
    any_ties = False
    for lang, sy in by_lang.items():
        pos = [s for s, y in sy if y == 1]
        neg = [s for s, y in sy if y == 0]
        assert rows[lang].n_pos == len(pos) and rows[lang].n_neg == len(neg)
        assert len(pos) > 0 and len(neg) > 0
        wins = sum(1 for p in pos for n in neg if p > n)
        ties = sum(1 for p in pos for n in neg if p == n)
        any_ties = any_ties or ties > 0
        auc = Fraction(2 * wins + ties, 2 * len(pos) * len(neg))
        micro = (auc.numerator * 1_000_000) // auc.denominator
        assert rows[lang].auc_micro == micro, (lang, rows[lang].auc_micro, micro)
        assert rows[lang].gini_micro == 2 * micro - 1_000_000
        # informative-but-noisy by construction
        assert 500_000 < micro < 1_000_000, (lang, micro)
    assert any_ties  # the tie path is actually exercised on this corpus


# ------------------------------------------------------- jl_projection


def test_jl_projection_python_replication(spark):
    """Exact replication of the sign matrix + folds, plus the JL regime
    property: per-pair distortion bounded, mean distortion near 1."""
    import hashlib

    from webcrawler_spark.queries import _JL_D, q_jl_projection

    emb = {r.vec_id: r.embedding for r in
           spark.read.parquet(f"{SF}/embeddings.parquet").collect()}

    def sign(j, k):
        h = hashlib.md5(f"{j}|{k}".encode()).hexdigest()[0]
        return 1.0 if int(h, 16) % 2 == 0 else -1.0

    rows = q_jl_projection(spark, SF).collect()
    assert len(rows) == len(emb) - 1
    ratios = []
    for r in rows:
        dv = [float(x) - float(y) for x, y in zip(emb[r.a_id], emb[r.b_id])]
        d2 = 0.0
        for v in dv:
            d2 += v * v
        d2_jl = 0.0
        for k in range(_JL_D):
            p = 0.0
            for j, v in enumerate(dv):
                p += sign(j, k) * v
            d2_jl += p * p
        d2_jl /= _JL_D
        assert r.d2 == round(d2, 6), (r, d2)
        assert abs(r.d2_jl - round(d2_jl, 6)) <= 1e-6, (r, d2_jl)
        assert abs(r.ratio - round(d2_jl / d2, 4)) <= 1e-4
        ratios.append(d2_jl / d2)
    # E[ratio]=1, sd per pair ≈ sqrt(2/16): the sketch is usable
    mean = sum(ratios) / len(ratios)
    assert 0.85 < mean < 1.15, mean
    assert all(0.1 < x < 3.5 for x in ratios), (min(ratios), max(ratios))


# ---------------------------------------------------- langid_confusion


def test_langid_confusion_recount_and_quality(spark):
    from webcrawler_spark.queries import q_lang_id, q_langid_confusion

    preds = [(r.lang, r.pred_lang) for r in q_lang_id(spark, SF).collect()]
    cells: dict[tuple, int] = {}
    totals: dict[str, int] = {}
    for lang, pred in preds:
        cells[(lang, pred)] = cells.get((lang, pred), 0) + 1
        totals[lang] = totals.get(lang, 0) + 1
    rows = q_langid_confusion(spark, SF).collect()
    assert {(r.lang, r.pred_lang) for r in rows} == set(cells)
    got = {}
    for r in rows:
        assert r.n == cells[(r.lang, r.pred_lang)]
        assert r.lang_total == totals[r.lang]
        assert r.rate_ppm == r.n * 1_000_000 // r.lang_total
        got[(r.lang, r.pred_lang)] = r.rate_ppm
    # matrix invariants: per-truth-lang rates sum to 1e6 up to floor
    # rounding, every corpus lang appears, and both predicted classes
    # occur somewhere (the detector actually discriminates — note the
    # synthetic corpus shares stopwords across langs, so per-class
    # QUALITY is exactly what this harness exists to measure, not assume)
    langs = {lang for lang, _ in got}
    assert langs == set(totals)
    for lang in langs:
        s = sum(ppm for (l, _), ppm in got.items() if l == lang)
        assert 1_000_000 - len(got) <= s <= 1_000_000, (lang, s)
    assert {pred for _, pred in got} == {"en", "other"}


# ----------------------------------------------- tokenizer_fertility


def _bpe_count(text: str) -> int:
    """Python scan equivalent to the engines' Java/RE2 pattern
    ' ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+' (re lacks \\p classes)."""
    import unicodedata

    def cat(c):
        k = unicodedata.category(c)[0]
        if k == "L":
            return "L"
        if k == "N":
            return "N"
        return "S" if c.isspace() else "O"

    n, i, count = len(text), 0, 0
    while i < n:
        j = i + 1 if text[i] == " " else i
        if j < n and cat(text[j]) in ("L", "N", "O"):
            k = cat(text[j])
            while j < n and cat(text[j]) == k:
                j += 1
            count += 1
            i = j
        else:
            i += 1
    return count


def test_tokenizer_fertility_recount(spark):
    from webcrawler_spark.queries import q_tokenizer_fertility

    agg: dict[str, list] = {}
    for d in spark.read.parquet(f"{SF}/documents.parquet").collect():
        a = agg.setdefault(d.lang, [0, 0, 0, 0])
        a[0] += 1
        a[1] += _bpe_count(d.text)
        a[2] += len([t for t in re.split(r"\s+", d.text.lower()) if t])
        a[3] += len(d.text.encode("utf-8"))
    rows = q_tokenizer_fertility(spark, SF).collect()
    assert {r.lang for r in rows} == set(agg)
    for r in rows:
        nd, bpe, ws, nb = agg[r.lang]
        assert (r.n_docs, r.bpe_tokens, r.ws_tokens, r.total_bytes) == (nd, bpe, ws, nb), r
        assert r.fertility_ppm == bpe * 1_000_000 // ws
        assert r.bytes_per_tok_ppm == nb * 1_000_000 // bpe
        # fertility >= 1: BPE pre-tokens never merge across whitespace
        assert r.fertility_ppm >= 1_000_000, r


# ------------------------------------------------- simpson_diversity


def test_simpson_diversity_recount(spark):
    from webcrawler_spark.queries import q_simpson_diversity

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    by_src: dict[str, dict] = {}
    for d in docs:
        by_src.setdefault(d.source, {}).setdefault(d.lang, 0)
        by_src[d.source][d.lang] += 1
    rows = {r.source: r for r in q_simpson_diversity(spark, SF).collect()}
    assert set(rows) == set(by_src)
    for src, langs in by_src.items():
        n = sum(langs.values())
        same2 = sum(c * (c - 1) for c in langs.values())
        r = rows[src]
        assert (r.n_docs, r.n_langs) == (n, len(langs))
        assert r.simpson_ppm == same2 * 1_000_000 // (n * (n - 1))
        assert r.gini_simpson_ppm == 1_000_000 - r.simpson_ppm
        # D is a probability: 0 <= D <= 1e6; single-lang source => D=1e6
        assert 0 <= r.simpson_ppm <= 1_000_000


# ------------------------------------------------------ kendall_tau


def test_kendall_tau_python_recount(spark):
    import math

    from webcrawler_spark.queries import _MRL_DIMS, q_kendall_tau

    emb = {r.vec_id: [float(x) for x in r.embedding]
           for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()}
    ref = emb[0]

    def cos(a, b):
        d = na = nb = 0.0
        for x, y in zip(a, b):
            d += x * y
            na += x * x
            nb += y * y
        return d / (math.sqrt(na) * math.sqrt(nb))

    ids = sorted(i for i in emb if i != 0)
    rf = {v: r + 1 for r, v in enumerate(sorted(ids, key=lambda i: (-cos(emb[i], ref), i)))}
    rt = {v: r + 1 for r, v in enumerate(
        sorted(ids, key=lambda i: (-cos(emb[i][:_MRL_DIMS], ref[:_MRL_DIMS]), i)))}
    conc = npairs = 0
    for x in ids:
        for y in ids:
            if x < y:
                npairs += 1
                if (rf[x] < rf[y]) == (rt[x] < rt[y]):
                    conc += 1
    row = q_kendall_tau(spark, SF).collect()[0]
    assert (row.n_pairs, row.concordant) == (npairs, conc)
    assert row.discordant == npairs - conc
    assert row.tau_micro == (2 * conc - npairs) * 1_000_000 // npairs
    # truncation preserves most of the ordering, but not all of it
    assert 100_000 < row.tau_micro < 1_000_000, row.tau_micro


# -------------------------------------------------- stylometry_delta


def test_stylometry_delta_recount(spark):
    import math

    from webcrawler_spark.queries import _STYLO_M, q_stylometry_delta

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    tf: dict[tuple, int] = {}
    tot: dict[str, int] = {}
    ctot: dict[str, int] = {}
    for d in docs:
        for t in re.split(r"\s+", d.text.lower()):
            if t:
                tf[(d.source, t)] = tf.get((d.source, t), 0) + 1
                tot[d.source] = tot.get(d.source, 0) + 1
                ctot[t] = ctot.get(t, 0) + 1
    panel = sorted(ctot, key=lambda t: (-ctot[t], t))[:_STYLO_M]
    srcs = sorted(tot)
    fppm = {(s, t): tf.get((s, t), 0) * 1_000_000 // tot[s] for s in srcs for t in panel}
    sd = {}
    k = len(srcs)
    for t in panel:
        s1 = sum(fppm[(s, t)] for s in srcs)
        s2 = sum(fppm[(s, t)] ** 2 for s in srcs)
        sd[t] = math.floor(math.sqrt((k * s2 - s1 * s1) // (k * k)))
    want = {}
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            tot_z = sum(
                abs(fppm[(a, t)] - fppm[(b, t)]) * 1000 // max(sd[t], 1) for t in panel
            )
            want[(a, b)] = tot_z // _STYLO_M
    rows = q_stylometry_delta(spark, SF).collect()
    assert {(r.a_src, r.b_src) for r in rows} == set(want)
    for r in rows:
        assert r.delta_milli == want[(r.a_src, r.b_src)], r
    # Delta must discriminate: not all pair distances identical
    assert len({r.delta_milli for r in rows}) > 1


# ---------------------------------------------------- hill_tail_index


def test_hill_tail_index_recount(spark):
    import math

    from webcrawler_spark.queries import _HILL_K, q_hill_tail_index

    tf: dict[tuple, int] = {}
    for d in spark.read.parquet(f"{SF}/documents.parquet").collect():
        for t in re.split(r"\s+", d.text.lower()):
            if t:
                tf[(d.lang, t)] = tf.get((d.lang, t), 0) + 1
    by_lang: dict[str, list] = {}
    for (lang, t), c in tf.items():
        by_lang.setdefault(lang, []).append((c, t))
    rows = {r.lang: r for r in q_hill_tail_index(spark, SF).collect()}
    for lang, cts in by_lang.items():
        cts.sort(key=lambda x: (-x[0], x[1]))
        if len(cts) < _HILL_K + 1:
            assert lang not in rows
            continue
        lns = [math.floor(math.log(c) * 1_000_000) for c, _ in cts[: _HILL_K + 1]]
        s, lk1 = sum(lns[:_HILL_K]), lns[_HILL_K]
        alpha = _HILL_K * 10**12 // (s - _HILL_K * lk1)
        r = rows[lang]
        assert (r.k, r.x_k1) == (_HILL_K, cts[_HILL_K][0])
        assert r.alpha_micro == alpha, (lang, r.alpha_micro, alpha)
        # a heavy-tailed (zipf-ish) frequency spectrum: alpha in a sane band
        assert 100_000 < r.alpha_micro < 20_000_000, r


# ------------------------------------------------ dedup_cluster_stats


def test_dedup_cluster_stats_consistency(spark):
    from webcrawler_spark.queries import q_dedup_cluster_stats, q_dedup_components

    comps = q_dedup_components(spark, SF).collect()
    sizes: dict[int, int] = {}
    for r in comps:
        sizes[r.rep] = sizes.get(r.rep, 0) + 1
    hist: dict[int, int] = {}
    for s in sizes.values():
        hist[s] = hist.get(s, 0) + 1
    rows = q_dedup_cluster_stats(spark, SF).collect()
    assert {r.cluster_size: r.n_clusters for r in rows} == hist
    n_docs_total = 0
    for r in rows:
        assert r.n_docs == r.cluster_size * r.n_clusters
        assert r.n_removable == (r.cluster_size - 1) * r.n_clusters
        n_docs_total += r.n_docs
    # every document is in exactly one cluster (singletons included)
    assert n_docs_total == len(comps)
    # the synthetic corpus has real dup clusters, not just singletons
    assert any(r.cluster_size > 1 for r in rows)


# -------------------------------------------------- copeland_fusion


def test_copeland_fusion_python_recount(spark):
    from webcrawler_spark.queries import _COPE_TOPN, _RRF_QUERIES, q_copeland_fusion

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    tf: dict[tuple, int] = {}
    dl: dict[int, int] = {}
    df: dict[str, set] = {}
    for d in docs:
        toks = [t for t in re.split(r"\s+", d.text.lower()) if t]
        dl[d.doc_id] = len(toks)
        for t in toks:
            tf[(d.doc_id, t)] = tf.get((d.doc_id, t), 0) + 1
            df.setdefault(t, set()).add(d.doc_id)
    queries = sorted(df, key=lambda t: (-len(df[t]), t))[:_RRF_QUERIES]
    got = {}
    for r in q_copeland_fusion(spark, SF).collect():
        got.setdefault(r.query_term, []).append(r)
    assert set(got) == set(queries)
    for term in queries:
        ids = sorted(df[term])
        ra = {v: i + 1 for i, v in enumerate(sorted(ids, key=lambda x: (-tf[(x, term)], x)))}
        rb = {v: i + 1 for i, v in enumerate(
            sorted(ids, key=lambda x: (-tf[(x, term)] / dl[x], x)))}
        rc = {v: i + 1 for i, v in enumerate(sorted(ids, key=lambda x: (dl[x], x)))}
        cope = {}
        for x in ids:
            wins = sum(
                1 for y in ids if y != x
                and (ra[x] < ra[y]) + (rb[x] < rb[y]) + (rc[x] < rc[y]) >= 2
            )
            cope[x] = (wins, 2 * wins - (len(ids) - 1))
        want = sorted(ids, key=lambda x: (-cope[x][1], x))[:_COPE_TOPN]
        rows = sorted(got[term], key=lambda r: r.rank)
        assert [r.doc_id for r in rows] == want, term
        for r in rows:
            assert (r.wins, r.copeland) == cope[r.doc_id], (term, r)


# ------------------------------------------------- kneser_ney_bigram


def test_kneser_ney_python_recount(spark):
    from fractions import Fraction

    from webcrawler_spark.queries import _KN_TOPN, q_kneser_ney_bigram

    c12: dict[tuple, int] = {}
    for d in spark.read.parquet(f"{SF}/documents.parquet").collect():
        toks = [t for t in re.split(r"\s+", d.text.lower()) if t]
        for a, b in zip(toks, toks[1:]):
            c12[(a, b)] = c12.get((a, b), 0) + 1
    c1: dict[str, int] = {}
    n1f: dict[str, int] = {}
    n1b: dict[str, int] = {}
    for (a, b), c in c12.items():
        c1[a] = c1.get(a, 0) + c
        n1f[a] = n1f.get(a, 0) + 1
        n1b[b] = n1b.get(b, 0) + 1
    n1all = len(c12)
    rows = q_kneser_ney_bigram(spark, SF).collect()
    assert len(rows) == min(_KN_TOPN, n1all)
    want_order = sorted(c12, key=lambda k: (-c12[k], k))[: len(rows)]
    assert [(r.w1, r.w2) for r in rows] == want_order
    for r in rows:
        # exact interpolated-KN with D=3/4 as a Fraction
        p = (
            Fraction(4 * r.c12 - 3, 4 * r.c1)
            + Fraction(3, 4) * Fraction(r.n1f, r.c1) * Fraction(r.n1b, n1all)
        )
        assert r.pkn_nano == (p.numerator * 10**9) // p.denominator, r
        assert (r.c1, r.n1f, r.n1b) == (c1[r.w1], n1f[r.w1], n1b[r.w2])
        assert 0 < r.pkn_nano <= 10**9
    # probabilities per context sum to <= 1 (discount mass + continuation
    # mass only redistributes): check one context fully
    w1 = rows[0].w1
    tot = Fraction(0)
    for (a, b), c in c12.items():
        if a == w1:
            tot += (
                Fraction(4 * c - 3, 4 * c1[a])
                + Fraction(3, 4) * Fraction(n1f[a], c1[a]) * Fraction(n1b[b], n1all)
            )
    assert tot <= 1, tot


# ------------------------------------------------ vocab_growth_curve


def test_vocab_growth_curve_recount(spark):
    from webcrawler_spark.queries import _HEAPS_BUCKET, q_vocab_growth_curve

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    first: dict[str, int] = {}
    nt: dict[int, int] = {}
    nd: dict[int, int] = {}
    for d in docs:
        toks = [t for t in re.split(r"\s+", d.text.lower()) if t]
        b = d.doc_id // _HEAPS_BUCKET
        nd[b] = nd.get(b, 0) + 1
        nt[b] = nt.get(b, 0) + len(toks)
        for x, y in zip(toks, toks[1:]):
            typ = f"{x} {y}"
            if typ not in first or d.doc_id < first[typ]:
                first[typ] = d.doc_id
    new: dict[int, int] = {}
    for doc in first.values():
        b = doc // _HEAPS_BUCKET
        new[b] = new.get(b, 0) + 1
    rows = sorted(q_vocab_growth_curve(spark, SF).collect(), key=lambda r: r.bucket)
    assert [r.bucket for r in rows] == sorted(nd)
    tcum = vcum = 0
    for r in rows:
        tcum += nt[r.bucket]
        vcum += new.get(r.bucket, 0)
        assert (r.n_docs, r.new_types) == (nd[r.bucket], new.get(r.bucket, 0))
        assert (r.tokens_cum, r.vocab_cum) == (tcum, vcum), r
    # Heaps: total vocab equals distinct bigram types; growth is monotone
    # and front-loaded (bucket 0 contributes the most new types)
    assert vcum == len(first)
    assert rows[0].new_types == max(r.new_types for r in rows)


# ------------------------------------------------ trimmed_mean_embed


def test_trimmed_mean_robust_and_exact(spark):
    from webcrawler_spark.queries import q_trimmed_mean_embed

    embs = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    by_label: dict[int, list] = {}
    for r in embs:
        by_label.setdefault(r.label, []).append((r.vec_id, [float(x) for x in r.embedding]))
    rows = q_trimmed_mean_embed(spark, SF).collect()
    got = {(r.label, r.dim): r for r in rows}
    ndims = len(embs[0].embedding)
    assert len(got) == len(by_label) * ndims
    for (label, dim), r in got.items():
        vals = sorted((v[dim], vid) for vid, v in by_label[label])
        n = len(vals)
        t = n // 8
        kept = [v for v, _ in vals[t : n - t]]
        assert r.n_used == len(kept)
        want = sum(kept) / len(kept)
        assert abs(r.tmean - round(want, 6)) <= 1e-6, (label, dim)
        # bounded influence: the trimmed mean lies inside the kept range
        assert kept[0] - 1e-9 <= r.tmean <= kept[-1] + 1e-9


# ------------------------------------------------ hashring_rebalance


def test_hashring_python_replication(spark):
    import hashlib

    from webcrawler_spark.queries import (
        _RING_SHARDS,
        _RING_VNODES,
        q_hashring_rebalance,
    )

    def ring(n):
        pts = []
        for s in range(n):
            for v in range(_RING_VNODES):
                pts.append((int(hashlib.md5(f"s{s}v{v}".encode()).hexdigest()[:12], 16), s))
        pts.sort()
        return pts

    def assign(pts, h):
        for pos, s in pts:
            if h <= pos:
                return s
        return pts[0][1]

    r_before, r_after = ring(_RING_SHARDS), ring(_RING_SHARDS + 1)
    n_keys: dict[int, int] = {}
    n_moved: dict[int, int] = {}
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    for d in docs:
        h = int(hashlib.md5(f"url{d.doc_id}".encode()).hexdigest()[:12], 16)
        sb, sa = assign(r_before, h), assign(r_after, h)
        n_keys[sb] = n_keys.get(sb, 0) + 1
        n_moved[sb] = n_moved.get(sb, 0) + int(sb != sa)
    rows = {r.shard_before: r for r in q_hashring_rebalance(spark, SF).collect()}
    assert set(rows) == set(n_keys)
    total = moved = 0
    for s, r in rows.items():
        assert (r.n_keys, r.n_moved_out) == (n_keys[s], n_moved[s]), s
        assert r.moved_ppm == n_moved[s] * 1_000_000 // n_keys[s]
        total += r.n_keys
        moved += r.n_moved_out
    assert total == len(docs)
    # consistent hashing moves ~1/(N+1) of keys, never the mod-N ~N/(N+1)
    frac = moved / total
    assert frac < 0.45, frac  # far below mod-N churn (~0.89)
    assert moved > 0  # the new shard actually takes keys


# ------------------------------------------------- kmv_set_algebra


def test_kmv_set_algebra_recount(spark):
    import hashlib

    from webcrawler_spark.queries import _KMVA_K, q_kmv_set_algebra

    A: dict[str, set] = {}
    B: dict[str, set] = {}
    for d in spark.read.parquet(f"{SF}/documents.parquet").collect():
        toks = {t for t in re.split(r"\s+", d.text.lower()) if t}
        tgt = A if d.doc_id % 2 == 0 else B
        tgt.setdefault(d.lang, set()).update(toks)
    rows = {r.lang: r for r in q_kmv_set_algebra(spark, SF).collect()}
    for lang in set(A) | set(B):
        a, b = A.get(lang, set()), B.get(lang, set())
        r = rows[lang]
        assert r.union_exact == len(a | b)
        assert r.inter_exact == len(a & b)
        uni = sorted(
            (int(hashlib.md5(t.encode()).hexdigest()[:12], 16), t) for t in (a | b)
        )
        sk = uni[:_KMVA_K]
        if len(uni) < _KMVA_K:
            want_u = float(len(uni))
        else:
            want_u = (_KMVA_K - 1) * float(1 << 48) / sk[-1][0]
        n_both = sum(1 for _, t in sk if t in a and t in b)
        assert abs(r.union_est - round(want_u, 4)) <= 1e-4, lang
        assert abs(r.inter_est - round(want_u * n_both / len(sk), 4)) <= 1e-4, lang
        # estimator sanity: within 50% of exact on this corpus
        assert abs(r.union_est - r.union_exact) <= 0.5 * r.union_exact


# --------------------------------------------- lexical_cosine_pairs


def test_lexical_cosine_verify_stage(spark):
    import math

    from webcrawler_spark.queries import (
        ngram_jaccard,
        _docs_parallel,
        q_lexical_cosine_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    n = len(docs)
    tf: dict[tuple, int] = {}
    df: dict[str, set] = {}
    for d in docs:
        for t in re.split(r"\s+", d.text.lower()):
            if t:
                tf[(d.doc_id, t)] = tf.get((d.doc_id, t), 0) + 1
                df.setdefault(t, set()).add(d.doc_id)
    idf = {t: math.floor(math.log(n / len(ds)) * 1_000_000) for t, ds in df.items()}
    w = {(doc, t): c * idf[t] for (doc, t), c in tf.items()}
    n2: dict[int, int] = {}
    for (doc, _), x in w.items():
        n2[doc] = n2.get(doc, 0) + x * x
    cand = {
        (r.a_id, r.b_id)
        for r in ngram_jaccard(_docs_parallel(spark, SF)).select("a_id", "b_id").collect()
    }
    rows = q_lexical_cosine_pairs(spark, SF).collect()
    assert {(r.a_id, r.b_id) for r in rows} <= cand
    for r in rows:
        num = sum(
            w[(r.a_id, t)] * w[(r.b_id, t)]
            for t in df
            if (r.a_id, t) in w and (r.b_id, t) in w
        )
        assert r.num == num, r
        want = num / (math.sqrt(n2[r.a_id]) * math.sqrt(n2[r.b_id]))
        assert abs(r.cos_sim - round(want, 4)) <= 1e-4
        # near-dup candidates carry real lexical overlap (IDF can
        # down-weight shared boilerplate, so the floor is loose)
        assert r.cos_sim > 0.2, r
    assert max(r.cos_sim for r in rows) > 0.5


# ------------------------------------------------- blocking_eval


def test_blocking_eval_python_recount(spark):
    from webcrawler_spark.queries import ngram_jaccard, q_blocking_eval

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    truth = {
        (r.a_id, r.b_id)
        for r in ngram_jaccard(spark.read.parquet(f"{SF}/documents.parquet")).collect()
    }
    keyed = {}
    for d in docs:
        toks = [t for t in re.split(r"\s+", d.text.lower()) if t]
        keyed[d.doc_id] = {
            "prefix16": d.text[:16],
            "lang_len64": f"{d.lang}|{d.n_chars // 64}",
            "first2tok": " ".join(toks[:2]),
        }
    n = len(docs)
    total_pairs = n * (n - 1) // 2
    rows = {r.scheme: r for r in q_blocking_eval(spark, SF).collect()}
    assert set(rows) == {"prefix16", "lang_len64", "first2tok"}
    for scheme, r in rows.items():
        blocks: dict[str, int] = {}
        for ks in keyed.values():
            blocks[ks[scheme]] = blocks.get(ks[scheme], 0) + 1
        cand = sum(c * (c - 1) // 2 for c in blocks.values())
        covered = sum(1 for a, b in truth if keyed[a][scheme] == keyed[b][scheme])
        assert (r.n_blocks, r.max_block, r.cand_pairs) == (
            len(blocks),
            max(blocks.values()),
            cand,
        ), scheme
        assert (r.truth_pairs, r.covered_pairs) == (len(truth), covered), scheme
        if truth:
            assert r.pc_ppm == covered * 1_000_000 // len(truth)
        assert r.rr_ppm == 1_000_000 - cand * 1_000_000 // total_pairs
        assert 0 <= r.rr_ppm <= 1_000_000
        assert r.covered_pairs <= r.truth_pairs
