"""Randomized fuzz campaign for the textops pipeline operators vs
INDEPENDENT pure-Python mirrors (round-5).

Every operator in sparklucene/textops.py re-derives its answer here from
first principles (python re / hashlib / dict arithmetic — none of the
engine's Catalyst expressions), on randomly drawn corpora engineered to
hit the edge cases: empty docs, docs shorter than the n-gram/chunk size,
heavy cross-doc repetition (boilerplate + duplicated spans), strata
missing from allowlists, PII-bearing text, blank lines, exact-duplicate
documents, and ragged chunk tails.
"""
from __future__ import annotations

import hashlib
import math
import random
import re
from collections import Counter, defaultdict

import numpy as np
import pandas as pd

from scripts.fuzz import expect
from sparklucene import textops as T
from sparklucene.analysis import ENGLISH_STOP_WORDS

SEEDS = (20, 31_000)
SPARK = True


P61 = 2305843009213693951
TOKEN_RE = re.compile(r"[a-z0-9_]+")
WS_RE = re.compile(r"\S+")
LANGS = sorted(T.LANG_MARKERS)

VOCAB = ["the", "and", "of", "quick", "brown", "fox", "data", "spark",
         "index", "query", "der", "und", "el", "los", "le", "les", "shi",
         "wo", "x1", "y_2", "zz", "footer", "nav", "home", "About",
         "Contact", "PRIVACY", "terms2024"]
PUNCT = [".", ",", "!", "?", ";", " -- ", "(c)", "#", "*"]
PII = ["bob.smith+x@ex-ample.org", "10.0.255.3", "+49 170 1234 5678",
       "a@b.io", "999.1.2.3", "+1 800 555 0100"]


def hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def toks_of(text: str) -> list[str]:
    return TOKEN_RE.findall(text.lower())


def grams_of(toks: list[str], n: int) -> list[str]:
    if len(toks) < n:
        return []
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


def gen_doc(rng: random.Random, boiler: list[str], shared_span: str) -> str:
    kind = rng.random()
    if kind < 0.05:
        return ""  # empty doc
    if kind < 0.10:
        return rng.choice(VOCAB)  # single token, shorter than any n-gram
    n_lines = rng.randint(1, 6)
    lines = []
    for _ in range(n_lines):
        r = rng.random()
        if r < 0.30 and boiler:
            lines.append(rng.choice(boiler))
        elif r < 0.35:
            lines.append("   ")  # all-whitespace line
        else:
            n_words = rng.randint(0, 18)
            words = [rng.choice(VOCAB) for _ in range(n_words)]
            if rng.random() < 0.3:
                words.insert(rng.randrange(len(words) + 1), rng.choice(PII))
            if rng.random() < 0.35:
                words.append(shared_span)
            if rng.random() < 0.4:
                words.append(rng.choice(PUNCT))
            # repeat a word run to feed dup_ngram_frac
            if words and rng.random() < 0.3:
                words = words + words[: rng.randint(1, len(words))]
            lines.append(" ".join(words))
    return "\n".join(lines)


def gen_corpus(rng: random.Random) -> pd.DataFrame:
    boiler = [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(2, 5)))
              for _ in range(3)]
    shared_span = " ".join(rng.choice(VOCAB) for _ in range(7))
    n = rng.randint(20, 70)
    rows = []
    did = 0
    for i in range(n):
        did += rng.randint(1, 3)  # non-contiguous, strictly increasing ids
        rows.append({
            "doc_id": did,
            "text": gen_doc(rng, boiler, shared_span),
            "lang": rng.choice(LANGS + ["xx"]),
            "source": f"src{rng.randint(0, 3)}",
            "url": rng.choice([
                f"https://www.bad{rng.randint(0,2)}.com/p",
                f"http://ok{rng.randint(0,2)}.org:8080/x?q=1",
                f"https://sub.deep.bad0.com/y",
                f"ftp://bad0.com.evil.net/z",
            ]),
        })
    df = pd.DataFrame(rows)
    df["doc_id"] = df["doc_id"].astype("int64")
    # inject exact duplicates for quality_filter's canonical rule
    if n > 6:
        df.loc[df.index[-1], "text"] = df.loc[df.index[0], "text"]
        df.loc[df.index[-2], "text"] = df.loc[df.index[1], "text"]
    df["n_chars"] = df["text"].str.len().astype("int64")
    return df


def check(ctx, seed: int) -> Counter:
    spark = ctx.spark
    n: Counter = Counter()
    rng = random.Random(seed)
    pdf = gen_corpus(rng)
    docs = spark.createDataFrame(pdf[["doc_id", "text", "lang", "source",
                                      "url", "n_chars"]])
    by_id = dict(zip(pdf.doc_id, pdf.text))

    # ---- token_stats ----
    got = T.token_stats(docs).toPandas().set_index("doc_id").sort_index()
    for did, text in by_id.items():
        tk = toks_of(text)
        exp = (len(WS_RE.findall(text)), len(tk), len(set(tk)),
               sum(math.ceil(len(t) / 4) for t in tk))
        g = got.loc[did]
        expect(n, "token_stats",
               (g.n_ws_tokens, g.n_tokens, g.n_terms, g.n_subwords) == exp,
               f"doc {did}: {tuple(g)} != {exp}")

    # ---- quality_score ----
    got = T.quality_score(docs).toPandas().set_index("doc_id").sort_index()
    for did, text in by_id.items():
        tk = toks_of(text)
        n_stop = sum(1 for t in tk if t in ENGLISH_STOP_WORDS)
        n_tok_chars = sum(len(t) for t in tk)
        n_alpha = len(re.sub(r"[^A-Za-z]", "", text))
        g = got.loc[did]
        ok = (g.n_tokens == len(tk) and g.n_stop_tokens == n_stop
              and g.n_token_chars == n_tok_chars
              and g.n_alpha_chars == n_alpha and g.n_chars_text == len(text))
        if tk:
            ok = ok and np.isclose(g.stop_ratio, n_stop / len(tk)) \
                and np.isclose(g.mean_token_len, n_tok_chars / len(tk))
        if text:
            ok = ok and np.isclose(g.alpha_ratio, n_alpha / len(text))
        expect(n, "quality_score", ok, f"doc {did}")

    # ---- language_id ----
    got = T.language_id(docs).toPandas().set_index("doc_id").sort_index()
    for did, text in by_id.items():
        tk = set(toks_of(text))
        scores = {lg: len(tk & set(ws))
                  for lg, ws in T.LANG_MARKERS.items()}
        best = max(scores.values())
        pred = (None if best == 0
                else min(lg for lg, s in scores.items() if s == best))
        g = got.loc[did]
        gp = None if pd.isna(g.pred_lang) else g.pred_lang
        ok = gp == pred and all(
            g[f"score_{lg}"] == scores[lg] for lg in LANGS)
        expect(n, "language_id", ok, f"doc {did}: {g.pred_lang} != {pred}")

    # ---- fingerprint ----
    sh = rng.choice([2, 3, 4])
    got = T.fingerprint(docs, shingle=sh).toPandas() \
        .set_index("doc_id").sort_index()
    for did, text in by_id.items():
        gr = list(dict.fromkeys(grams_of(toks_of(text), sh)))
        fp = 0
        for g0 in gr:
            fp = (fp + hash60(g0) % P61) % P61
        g = got.loc[did]
        expect(n, "fingerprint", g.n_shingles == len(gr) and g.fingerprint == fp,
               f"doc {did} shingle={sh}")

    # ---- duplicate_ngram_fraction ----
    nn = rng.choice([2, 3, 4])
    got = T.duplicate_ngram_fraction(docs, n=nn).toPandas() \
        .set_index("doc_id").sort_index()
    for did, text in by_id.items():
        gr = grams_of(toks_of(text), nn)
        frac = (len(gr) - len(set(gr))) / len(gr) if gr else 0.0
        g = got.loc[did]
        expect(n, "dup_ngram_frac",
               g.n_ngrams == len(gr) and g.n_distinct == len(set(gr))
               and np.isclose(g.dup_ngram_frac, frac),
               f"doc {did} n={nn}")

    # ---- unigram_logppl (+ quality_filter) ----
    got = T.unigram_logppl(docs).toPandas().set_index("doc_id").sort_index()
    cf: Counter = Counter()
    for text in by_id.values():
        cf.update(toks_of(text))
    total = sum(cf.values())
    mirror_lp: dict[int, float] = {}
    for did, text in by_id.items():
        tk = toks_of(text)
        if not tk:
            expect(n, "unigram_logppl", did not in got.index,
                   f"empty doc {did} present")
            continue
        h = sum(-math.log(cf[t] / total) for t in tk)
        lp = np.float64(np.float32(h / len(tk)))
        mirror_lp[did] = float(lp)
        g = got.loc[did]
        expect(n, "unigram_logppl",
               g.dl == len(tk) and np.isclose(g.logppl, lp, rtol=1e-6),
               f"doc {did}: {g.logppl} != {lp}")
    # quality_filter with a band chosen from the mirror so it bites
    if mirror_lp:
        vals = sorted(mirror_lp.values())
        lo = vals[len(vals) // 4] - 1e-4
        hi = vals[3 * len(vals) // 4] + 1e-4
        min_dl = rng.randint(1, 8)
        min_sr = rng.choice([0.0, 0.05, 0.2])
        surv = set(T.quality_filter(docs, min_dl=min_dl, logppl_lo=lo,
                                    logppl_hi=hi, min_stop_ratio=min_sr)
                   .toPandas().doc_id)
        sha_keeper: dict[str, int] = {}
        for did in sorted(by_id):
            s = hashlib.sha256(by_id[did].encode()).hexdigest()
            sha_keeper.setdefault(s, did)
        exp = set()
        for did, text in by_id.items():
            tk = toks_of(text)
            if not tk or did not in mirror_lp:
                continue
            sr = sum(1 for t in tk if t in ENGLISH_STOP_WORDS) / len(tk)
            s = hashlib.sha256(text.encode()).hexdigest()
            if (sha_keeper[s] == did and len(tk) >= min_dl
                    and lo <= mirror_lp[did] <= hi and sr >= min_sr):
                exp.add(did)
        expect(n, "quality_filter", surv == exp,
               f"survivors {sorted(surv)^set(exp) if False else sorted(surv ^ exp)}")

    # ---- contamination_scores ----
    bench_pdf = pdf.sample(n=min(5, len(pdf)), random_state=seed)
    bench = spark.createDataFrame(bench_pdf[["doc_id", "text"]])
    cn = rng.choice([2, 3])
    got = T.contamination_scores(docs, bench, n=cn).toPandas() \
        .set_index("doc_id").sort_index()
    bench_grams = set()
    for text in bench_pdf.text:
        bench_grams.update(grams_of(toks_of(text), cn))
    for did, text in by_id.items():
        gr = set(grams_of(toks_of(text), cn))
        if not gr:
            expect(n, "contamination", did not in got.index,
                   f"gram-less doc {did} present")
            continue
        hits = len(gr & bench_grams)
        g = got.loc[did]
        expect(n, "contamination",
               g.n_grams == len(gr) and g.n_hits == hits
               and np.isclose(g.contamination, hits / len(gr)),
               f"doc {did}: ({g.n_grams},{g.n_hits}) != ({len(gr)},{hits})")

    # ---- chunk_overlap ----
    size = rng.randint(2, 12)
    stride = rng.randint(1, size)
    got = T.chunk_overlap(docs, size=size, stride=stride).toPandas()
    got_g = {did: sub.sort_values("chunk_id")
             for did, sub in got.groupby("doc_id")}
    for did, text in by_id.items():
        tk = toks_of(text)
        if not tk:
            expect(n, "chunk_overlap", did not in got_g,
                   f"empty doc {did} chunked")
            continue
        last = max(math.ceil((len(tk) - size) / stride), 0) * stride
        starts = list(range(0, last + 1, stride))
        sub = got_g.get(did)
        ok = sub is not None and len(sub) == len(starts)
        if ok:
            for row, st in zip(sub.itertuples(), starts):
                ch = tk[st:st + size]
                ok = ok and row.start_token == st \
                    and row.n_tokens == len(ch) \
                    and row.chunk_text == " ".join(ch)
        expect(n, "chunk_overlap", bool(ok),
               f"doc {did} size={size} stride={stride}")

    # ---- pack_sequences ----
    budget = rng.randint(3, 40)
    sep = rng.choice([0, 1, 2])
    got = T.pack_sequences(docs, budget=budget, sep=sep,
                           bucket_size=rng.choice([4, 16, 8192])) \
        .toPandas().set_index("doc_id").sort_index()
    off = 0
    for did in sorted(by_id):
        cost = len(toks_of(by_id[did])) + sep
        g = got.loc[did]
        ok = (g.offset == off and g.n_tokens_sep == cost
              and g.first_seq == off // budget)
        if cost > 0:
            ok = ok and g.last_seq == (off + cost - 1) // budget
        expect(n, "pack_sequences", bool(ok),
               f"doc {did}: off {g.offset} != {off}")
        off += cost

    # ---- deterministic / stratified / mixture sampling ----
    frac = rng.choice([0.0, 0.3, 0.7, 1.0])
    salt = f"s{seed}"
    got_ids = set(T.deterministic_sample(docs, frac, salt=salt)
                  .toPandas().doc_id)
    thr = "g" if frac >= 1.0 else format(max(int(frac * 16 ** 8), 0), "08x")
    exp_ids = {did for did in by_id
               if hashlib.md5((salt + str(did)).encode()).hexdigest()[:8] < thr}
    expect(n, "deterministic_sample", got_ids == exp_ids,
           f"{sorted(got_ids ^ exp_ids)}")

    fracs = {lg: rng.choice([0.0, 0.5, 1.0]) for lg in rng.sample(LANGS, 3)}
    got_ids = set(T.stratified_sample(docs, fracs, salt=salt)
                  .toPandas().doc_id)
    exp_ids = set()
    for did, lang in zip(pdf.doc_id, pdf.lang):
        if lang in fracs:
            t = ("g" if fracs[lang] >= 1.0
                 else format(max(int(fracs[lang] * 16 ** 8), 0), "08x"))
            if hashlib.md5((salt + str(did)).encode()).hexdigest()[:8] < t:
                exp_ids.add(did)
    expect(n, "stratified_sample", got_ids == exp_ids,
           f"{sorted(got_ids ^ exp_ids)}")

    weights = {lg: rng.randint(1, 5) for lg in rng.sample(LANGS + ["xx"], 2)}
    tb = rng.randint(10, 400)
    got = T.mixture_sample(docs, weights, tb, salt=salt).toPandas()
    sum_w = sum(weights.values())
    avail: Counter = Counter()
    for did, lang in zip(pdf.doc_id, pdf.lang):
        if lang in weights:
            avail[lang] += len(toks_of(by_id[did]))
    exp_rows = set()
    for did, lang in zip(pdf.doc_id, pdf.lang):
        if lang not in weights or avail[lang] == 0:
            continue
        target = weights[lang] * tb // sum_w
        t = min(math.floor((float(target) / float(avail[lang])) * 2.0 ** 32),
                2 ** 32)
        ki = int(hashlib.md5((salt + str(did)).encode()).hexdigest()[:8], 16)
        if ki < t:
            exp_rows.add(did)
    expect(n, "mixture_sample", set(got.doc_id) == exp_rows,
           f"{sorted(set(got.doc_id) ^ exp_rows)}")

    # ---- remove_boilerplate_lines ----
    md = rng.choice([2, 3])
    got = T.remove_boilerplate_lines(docs, min_docs=md).toPandas() \
        .set_index("doc_id").sort_index()
    freq: dict[tuple, set] = defaultdict(set)
    for did, text in by_id.items():
        bkt = pdf.loc[pdf.doc_id == did, "source"].iloc[0]
        for line in text.split("\n"):
            if line.strip():
                freq[(bkt, line.strip())].add(did)
    boiler_keys = {k for k, v in freq.items() if len(v) >= md}
    for did, text in by_id.items():
        bkt = pdf.loc[pdf.doc_id == did, "source"].iloc[0]
        lines = text.split("\n")
        kept = [ln for ln in lines
                if not (ln.strip() and (bkt, ln.strip()) in boiler_keys)]
        g = got.loc[did]
        expect(n, "boilerplate",
               g.n_lines == len(lines)
               and g.n_removed == len(lines) - len(kept)
               and g.clean_text == "\n".join(kept),
               f"doc {did}")

    # ---- remove_duplicate_spans ----
    dn = rng.choice([2, 3, 5])
    got = T.remove_duplicate_spans(docs, n=dn, min_docs=2).toPandas() \
        .set_index("doc_id").sort_index()
    gram_docs: dict[str, set] = defaultdict(set)
    for did, text in by_id.items():
        for g0 in set(grams_of(toks_of(text), dn)):
            gram_docs[g0].add(did)
    dup_grams = {g0 for g0, s in gram_docs.items() if len(s) >= 2}
    for did, text in by_id.items():
        tk = toks_of(text)
        covered = set()
        for i, g0 in enumerate(grams_of(tk, dn)):
            if g0 in dup_grams:
                covered.update(range(i, i + dn))
        kept = [t for i, t in enumerate(tk) if i not in covered]
        g = got.loc[did]
        expect(n, "dup_spans",
               g.n_tokens == len(tk) and g.n_removed == len(covered)
               and g.clean_text == " ".join(kept),
               f"doc {did} n={dn}")

    # ---- pii_scan ----
    got = T.pii_scan(docs).toPandas().set_index("doc_id").sort_index()
    for did, text in by_id.items():
        em = re.findall(T.PII_EMAIL_RE, text)
        red = re.sub(T.PII_EMAIL_RE, "<EMAIL>", text)
        ip = re.findall(T.PII_IPV4_RE, red)
        red = re.sub(T.PII_IPV4_RE, "<IP>", red)
        ph = re.findall(T.PII_PHONE_RE, red)
        red = re.sub(T.PII_PHONE_RE, "<PHONE>", red)
        g = got.loc[did]
        # counts are taken on the progressively-redacted text, so
        # they reconcile with the emitted redaction tokens
        ok = (g.n_emails == len(em) and g.n_ipv4 == len(ip)
              and g.n_phones == len(ph) and g.redacted == red)
        expect(n, "pii_scan", bool(ok), f"doc {did}")

    # ---- url_blocklist_filter ----
    bl = ("bad0.com", "bad1.com")
    got = T.url_blocklist_filter(docs, bl).toPandas() \
        .set_index("doc_id").sort_index()
    for did in by_id:
        url = pdf.loc[pdf.doc_id == did, "url"].iloc[0]
        m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", url)
        host = m.group(1).lower() if m else ""
        exp = any(host == d or host.endswith("." + d) for d in bl)
        g = got.loc[did]
        expect(n, "url_blocklist",
               g.domain == host and bool(g.blocked) == exp,
               f"doc {did}: {g.domain}/{g.blocked} != {host}/{exp}")

    # ---- domain_cap_sample ----
    cap = rng.randint(1, 6)
    csalt = f"cap{seed}"
    got = T.domain_cap_sample(docs, cap, salt=csalt).toPandas()
    exp_keep = set()
    for src, sub in pdf.groupby("source"):
        ranked = sorted(
            sub.doc_id,
            key=lambda d: (hashlib.md5(f"{csalt}:{d}".encode()).hexdigest(),
                           d))
        exp_keep.update(ranked[:cap])
    expect(n, "domain_cap", set(got.doc_id) == exp_keep,
           f"{sorted(set(got.doc_id) ^ exp_keep)}")

    # ---- url_blocklist_filter_table (round-5 table form: per-row equal
    # to the same independent mirror as the expression form) ----
    hosts = []
    for did in by_id:
        url = pdf.loc[pdf.doc_id == did, "url"].iloc[0]
        m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", url)
        if m:
            hosts.append(m.group(1).lower())
    tbl_bl = ["bad0.com", "absent.example"]
    if hosts:  # draw a real suffix so the table path actually bites
        h = rng.choice(hosts)
        parts = h.split(".")
        tbl_bl.append(".".join(parts[rng.randrange(len(parts)):]))
    bl_df = spark.createDataFrame(pd.DataFrame({"domain": tbl_bl}))
    got = T.url_blocklist_filter_table(docs, bl_df).toPandas() \
        .set_index("doc_id").sort_index()
    for did in by_id:
        url = pdf.loc[pdf.doc_id == did, "url"].iloc[0]
        m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", url)
        host = m.group(1).lower() if m else ""
        exp = any(host == d or host.endswith("." + d) for d in tbl_bl)
        g = got.loc[did]
        expect(n, "url_blocklist_table",
               g.domain == host and bool(g.blocked) == exp,
               f"doc {did}: {g.domain}/{g.blocked} != {host}/{exp}")

    # ---- contamination_scores_bloom (round-5: Bloom prefilter must be
    # invisible in the result at ANY fp_rate — exact verify) ----
    cn = rng.randint(2, 4)
    bench_ids = {d for d in by_id if rng.random() < 0.3}
    bench = docs.filter(docs.doc_id.isin(list(bench_ids))) if bench_ids \
        else docs.limit(0)
    fp = rng.choice([0.005, 0.05, 0.5])
    got = T.contamination_scores_bloom(docs, bench, n=cn, fp_rate=fp) \
        .toPandas().set_index("doc_id").sort_index()
    bench_grams = set()
    for did in bench_ids:
        bench_grams.update(grams_of(toks_of(by_id[did]), cn))
    for did, text in by_id.items():
        gset = set(grams_of(toks_of(text), cn))
        if not gset:
            expect(n, "bloom_contam", did not in got.index,
                   f"doc {did} gramless but present")
            continue
        nh = len(gset & bench_grams)
        g = got.loc[did]
        expect(n, "bloom_contam",
               g.n_grams == len(gset) and g.n_hits == nh
               and g.contamination == nh / len(gset),
               f"doc {did} fp={fp} n={cn}")

    return n
