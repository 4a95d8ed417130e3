#!/usr/bin/env python3
"""Third-opinion checker for mirror-risk lanes.

The DuckDB oracle gate proves Spark and DuckDB agree, but for lanes whose
oracle SQL deliberately MIRRORS the engine's rearranged algebra (the
histogram rank-collapse forms, hand-rolled statistics, unrolled iterative
recurrences) agreement cannot catch a shared algebra error — both sides
would compute the same wrong thing. This tool recomputes those lanes from
FIRST PRINCIPLES (textbook formulas, numpy/pandas, no reuse of either
side's rearrangement) on the raw parquet and compares against the
graft.Verify dump.

Usage:
  sbt -batch 'runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out'
  python3 tools/verify_independent.py --sf-dir /root/testdata/sf0.01 \
      --spark-out /tmp/verify_out

Exact-integer outputs compare exactly; rounded-double outputs compare with
a tolerance of one rounding half-grid plus float slack (the recompute is
unrounded, the dump is rounded at a known scale).
"""
import argparse
import glob
import json
import math
import os
import re
import sys

import duckdb
import numpy as np
import pandas as pd

# Shared engine/checker tunables (gram widths, PII patterns + strata,
# stopword lists, split draw) — single machine-readable source consumed
# here and asserted against the Scala constants by SharedConstantsSpec,
# so neither side can drift silently (ADVICE r9).
SHARED = json.load(open(os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "shared_constants.json")))


def _split_of(bucket):
    """The shared split draw: md5 hex-6 bucket -> (name, rank)."""
    sd = SHARED["split_draw"]
    if bucket < sd["train_lt"]:
        return "train", 0
    return ("val", 1) if bucket < sd["val_lt"] else ("test", 2)


def tbl(sf_dir, name):
    """Path pattern for a testdata table (file or directory layout)."""
    p = f"{sf_dir}/{name}.parquet"
    return f"{p}/*.parquet" if os.path.isdir(p) else p


def load(con, sf_dir, name, cols="*", where=""):
    q = f"SELECT {cols} FROM read_parquet('{tbl(sf_dir, name)}')"
    if where:
        q += f" WHERE {where}"
    return con.execute(q).df()


def dump(spark_out, lane):
    files = sorted(glob.glob(f"{spark_out}/{lane}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no dump for {lane} under {spark_out}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def clicks(con, sf_dir):
    """Tables.clicks: click events mapped onto the 500-doc id space."""
    return con.execute(
        f"""SELECT user_id AS userId, event_id % 500 AS newsId,
                   CAST(ts AS DATE) AS date
            FROM read_parquet('{tbl(sf_dir, 'events')}')
            WHERE event_type = 'click'"""
    ).df()


def tokenize(text):
    """Python twin of graft.text.Tokenizer.tokens."""
    return [w for w in re.split(r"[^a-z]+", text.lower()) if w]


def half_up_ratio(num, den, out_scale):
    """Ops.ratioHalfUp: half_up(num/den) / 10^out_scale, exact integers."""
    v = (2 * int(num) + int(den)) // (2 * int(den))
    return v / (10 ** out_scale)


def close(a, b, tol):
    return abs(float(a) - float(b)) <= tol


# ---------------------------------------------------------------- checks

def check_q145_gini(con, sf_dir, spark_out):
    """Textbook Gini: G = 2*sum(i*x_(i)) / (n*sum(x)) - (n+1)/n, x sorted asc."""
    df = con.execute(
        f"""SELECT c_mktsegment AS seg, o_totalprice AS p
            FROM read_parquet('{tbl(sf_dir, 'orders')}') o
            JOIN read_parquet('{tbl(sf_dir, 'customer')}') c
              ON o.o_custkey = c.c_custkey"""
    ).df()
    got = dump(spark_out, "q145_gini").set_index("c_mktsegment")
    errs = []
    for seg, grp in df.groupby("seg"):
        x = np.sort(grp["p"].to_numpy(dtype=np.float64))
        n = len(x)
        i = np.arange(1, n + 1, dtype=np.float64)
        gini = 2.0 * float((i * x).sum()) / (n * float(x.sum())) - (n + 1) / n
        row = got.loc[seg]
        if int(row["n_orders"]) != n:
            errs.append(f"{seg}: n_orders {row['n_orders']} != {n}")
        if not close(row["gini"], gini, 6e-7):
            errs.append(f"{seg}: gini {row['gini']} vs textbook {gini:.9f}")
    return errs


def check_q149_weighted_median(con, sf_dir, spark_out):
    """Weighted lower median: min x with cumweight(sorted asc) * 2 >= total."""
    df = load(con, sf_dir, "documents", "lang, n_chars")
    df["wt"] = df["n_chars"] % 7 + 1
    got = dump(spark_out, "q149_weighted_median").set_index("lang")
    errs = []
    for lang, grp in df.groupby("lang"):
        g = grp.sort_values("n_chars")
        cum = g["wt"].cumsum()
        total = int(g["wt"].sum())
        med = int(g.loc[cum * 2 >= total, "n_chars"].iloc[0])
        row = got.loc[lang]
        if int(row["total_weight"]) != total:
            errs.append(f"{lang}: total_weight {row['total_weight']} != {total}")
        if int(row["weighted_median"]) != med:
            errs.append(f"{lang}: median {row['weighted_median']} != {med}")
    return errs


def check_q57_percentiles(con, sf_dir, spark_out):
    """Nearest-rank percentiles (ceil(q*n)) + exact half-up 2-dec mean."""
    df = load(con, sf_dir, "lineitem", "l_returnflag AS flag, l_extendedprice AS p")
    df["p"] = df["p"].round(2)
    got = dump(spark_out, "q57_percentiles").set_index("l_returnflag")
    errs = []
    for flag, grp in df.groupby("flag"):
        x = np.sort(grp["p"].to_numpy())
        n = len(x)
        row = got.loc[flag]
        for q, colname in ((0.25, "p25"), (0.5, "p50"), (0.75, "p75")):
            v = x[math.ceil(q * n) - 1]
            if not close(row[colname], v, 1e-9):
                errs.append(f"{flag}: {colname} {row[colname]} != {v}")
        cents = np.rint(grp["p"].to_numpy() * 100).astype(np.int64)
        mean = half_up_ratio(int(cents.sum()), n, 2)
        if not close(row["mean"], mean, 1e-9):
            errs.append(f"{flag}: mean {row['mean']} != {mean}")
    return errs


def check_q118_mad(con, sf_dir, spark_out):
    """Median, MAD (both nearest-rank ceil(n/2)), 3-sigma outliers."""
    df = load(con, sf_dir, "lineitem", "l_returnflag AS flag, l_extendedprice AS p")
    df["p"] = df["p"].round(2)
    got = dump(spark_out, "q118_mad_outliers").set_index("flag")
    errs = []
    for flag, grp in df.groupby("flag"):
        x = np.sort(grp["p"].to_numpy())
        n = len(x)
        med = x[math.ceil(n / 2) - 1]
        dev = np.sort(np.round(np.abs(grp["p"].to_numpy() - med), 2))
        mad = dev[math.ceil(n / 2) - 1]
        n_out = int((dev > 3.0 * 1.4826 * mad).sum())
        row = got.loc[flag]
        for name, v in (("median", med), ("mad", mad)):
            if not close(row[name], v, 1e-9):
                errs.append(f"{flag}: {name} {row[name]} != {v}")
        if int(row["n_rows"]) != n or int(row["n_outliers"]) != n_out:
            errs.append(f"{flag}: counts ({row['n_rows']},{row['n_outliers']})"
                        f" != ({n},{n_out})")
    return errs


def check_q164_chi2(con, sf_dir, spark_out):
    df = load(con, sf_dir, "documents", "lang, source")
    obs = df.groupby(["lang", "source"]).size()
    nl = df.groupby("lang").size()
    ns = df.groupby("source").size()
    n = len(df)
    chi2 = 0.0
    cells = 0
    for lang in nl.index:
        for src in ns.index:
            e = nl[lang] * ns[src] / n
            o = obs.get((lang, src), 0)
            chi2 += (o - e) ** 2 / e
            cells += 1
    row = dump(spark_out, "q164_chi_square").iloc[0]
    errs = []
    if int(row["n_cells"]) != cells:
        errs.append(f"n_cells {row['n_cells']} != {cells}")
    if not close(row["chi2"], chi2, 6e-7):
        errs.append(f"chi2 {row['chi2']} vs textbook {chi2:.9f}")
    return errs


def check_q176_welch(con, sf_dir, spark_out):
    df = load(con, sf_dir, "events", "user_id, value")
    a = df.loc[df["user_id"] % 2 == 0, "value"].to_numpy(dtype=np.float64)
    b = df.loc[df["user_id"] % 2 == 1, "value"].to_numpy(dtype=np.float64)
    na, nb = len(a), len(b)
    va, vb = a.var(ddof=1), b.var(ddof=1)
    se2 = va / na + vb / nb
    t = (a.mean() - b.mean()) / math.sqrt(se2)
    dof = se2 ** 2 / ((va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1))
    row = dump(spark_out, "q176_welch_ttest").iloc[0]
    errs = []
    if int(row["n_a"]) != na or int(row["n_b"]) != nb:
        errs.append(f"group sizes ({row['n_a']},{row['n_b']}) != ({na},{nb})")
    if not close(row["mean_diff"], a.mean() - b.mean(), 6e-7):
        errs.append(f"mean_diff {row['mean_diff']} vs {a.mean() - b.mean():.9f}")
    if not close(row["t_stat"], t, 6e-7):
        errs.append(f"t_stat {row['t_stat']} vs textbook {t:.9f}")
    if not close(row["welch_df"], dof, 6e-4):
        errs.append(f"welch_df {row['welch_df']} vs textbook {dof:.6f}")
    return errs


def check_q177_benford(con, sf_dir, spark_out):
    df = load(con, sf_dir, "orders", "o_totalprice AS p", "o_totalprice > 0")
    digits = df["p"].map(lambda v: int(str(v)[0]))
    obs = digits.value_counts()
    n = len(df)
    got = dump(spark_out, "q177_benford").set_index("d")
    errs = []
    for d in range(1, 10):
        if d not in got.index:
            if obs.get(d, 0):
                errs.append(f"digit {d} missing from dump")
            continue
        row = got.loc[d]
        e = n * math.log10(1 + 1 / d)
        z = (obs.get(d, 0) - e) / math.sqrt(e)
        if int(row["observed"]) != int(obs.get(d, 0)):
            errs.append(f"d={d}: observed {row['observed']} != {obs.get(d, 0)}")
        if not close(row["expected"], e, 6e-4):
            errs.append(f"d={d}: expected {row['expected']} vs {e:.6f}")
        if not close(row["z"], z, 6e-7):
            errs.append(f"d={d}: z {row['z']} vs {z:.9f}")
    return errs


def check_q85_zipf(con, sf_dir, spark_out):
    docs = load(con, sf_dir, "documents", "text")
    freq = {}
    for t in docs["text"]:
        for w in tokenize(t):
            freq[w] = freq.get(w, 0) + 1
    top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:200]
    lf = np.log([f for _, f in top])
    lr = np.log(np.arange(1, len(top) + 1, dtype=np.float64))
    slope, intercept = np.polyfit(lr, lf, 1)
    row = dump(spark_out, "q85_zipf_slope").iloc[0]
    errs = []
    if int(row["n_words"]) != len(top):
        errs.append(f"n_words {row['n_words']} != {len(top)}")
    if not close(row["slope"], slope, 5e-6):
        errs.append(f"slope {row['slope']} vs OLS {slope:.9f}")
    if not close(row["intercept"], intercept, 5e-6):
        errs.append(f"intercept {row['intercept']} vs OLS {intercept:.9f}")
    return errs


def coclick_edges(con, sf_dir):
    """Distinct news pairs (a < b) sharing a user — the q184/q186 graph."""
    ck = clicks(con, sf_dir)[["userId", "newsId"]].drop_duplicates()
    edges = set()
    for _, grp in ck.groupby("userId"):
        ids = sorted(grp["newsId"].tolist())
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                edges.add((ids[i], ids[j]))
    return edges


def check_q184_clustering(con, sf_dir, spark_out):
    edges = coclick_edges(con, sf_dir)
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tris = sum(len(adj[a] & adj[b]) for a, b in edges) // 3
    wedges = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
    cc = 3.0 * tris / wedges
    row = dump(spark_out, "q184_clustering_coeff").iloc[0]
    errs = []
    if int(row["n_triangles"]) != tris or int(row["n_wedges"]) != wedges:
        errs.append(f"counts ({row['n_triangles']},{row['n_wedges']})"
                    f" != ({tris},{wedges})")
    if not close(row["clustering_coeff"], cc, 6e-7):
        errs.append(f"coeff {row['clustering_coeff']} vs {cc:.9f}")
    return errs


def check_q186_assortativity(con, sf_dir, spark_out):
    edges = coclick_edges(con, sf_dir)
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    da, db = [], []
    for a, b in edges:  # both orientations
        da += [deg[a], deg[b]]
        db += [deg[b], deg[a]]
    r = np.corrcoef(np.array(da, dtype=np.float64),
                    np.array(db, dtype=np.float64))[0, 1]
    row = dump(spark_out, "q186_degree_assortativity").iloc[0]
    errs = []
    if int(row["n_directed_edges"]) != 2 * len(edges):
        errs.append(f"n_directed_edges {row['n_directed_edges']}"
                    f" != {2 * len(edges)}")
    if not close(row["assortativity"], r, 6e-7):
        errs.append(f"assortativity {row['assortativity']} vs {r:.9f}")
    return errs


def check_q101_pagerank(con, sf_dir, spark_out, iters=10, damp=0.85):
    ck = clicks(con, sf_dir)[["userId", "newsId"]].drop_duplicates()
    e0 = {(int(u) * 2, int(v) * 2 + 1) for u, v in
          zip(ck["userId"], ck["newsId"])}
    edges = list(e0) + [(v, u) for u, v in e0]
    nodes = sorted({s for s, _ in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for s, _ in edges:
        out[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        m = np.zeros(n)
        contrib = r / out
        for s, d in edges:
            m[idx[d]] += contrib[idx[s]]
        r = (1 - damp) / n + damp * m
    got = dump(spark_out, "q101_pagerank")
    got["id"] = got.apply(
        lambda row: int(row["ref_id"]) * 2 + (0 if row["kind"] == "user" else 1),
        axis=1)
    got = got.set_index("id")
    errs = []
    if len(got) != n:
        errs.append(f"node count {len(got)} != {n}")
    bad = 0
    for v in nodes:
        if not close(got.loc[v, "rank"], r[idx[v]], 1e-7):
            bad += 1
    if bad:
        errs.append(f"{bad}/{n} ranks differ from numpy power iteration"
                    f" beyond 1e-7")
    return errs


def check_q208_theil_sen(con, sf_dir, spark_out):
    ck = clicks(con, sf_dir)
    daily = ck.groupby("date").size().reset_index(name="c")
    x = (pd.to_datetime(daily["date"]) -
         pd.Timestamp("2024-01-01")).dt.days.to_numpy(dtype=np.float64)
    y = daily["c"].to_numpy(dtype=np.float64)
    slopes = []
    for i in range(len(x)):
        for j in range(i + 1, len(x)):
            slopes.append((y[j] - y[i]) / (x[j] - x[i]))
    slopes.sort()
    sen = slopes[math.ceil(len(slopes) / 2) - 1]  # engine's nearest-rank pick
    ols = np.polyfit(x, y, 1)[0]
    row = dump(spark_out, "q208_theil_sen").iloc[0]
    errs = []
    if int(row["n_pairs"]) != len(slopes):
        errs.append(f"n_pairs {row['n_pairs']} != {len(slopes)}")
    if not close(row["sen_slope"], sen, 6e-7):
        errs.append(f"sen_slope {row['sen_slope']} vs {sen:.9f}")
    if not close(row["ols_slope"], ols, 5e-6):
        errs.append(f"ols_slope {row['ols_slope']} vs OLS {ols:.9f}")
    return errs


def check_q256_shard_manifest(con, sf_dir, spark_out, shards=16):
    docs = load(con, sf_dir, "documents", "doc_id, text")
    docs["n_tok"] = docs["text"].map(lambda t: len(tokenize(t)))
    ranked = docs.sort_values(["n_tok", "doc_id"],
                              ascending=[False, True]).reset_index(drop=True)
    ranked["rank"] = ranked.index + 1
    pas = (ranked["rank"] - 1) // shards
    pos = (ranked["rank"] - 1) % shards
    ranked["shard"] = np.where(pas % 2 == 0, pos, shards - 1 - pos)
    exp = ranked.groupby("shard").agg(
        n_docs=("doc_id", "size"), n_tokens=("n_tok", "sum"),
        max_tok=("n_tok", "max"), min_tok=("n_tok", "min"))
    got = dump(spark_out, "q256_shard_manifest").set_index("shard")
    errs = []
    for shard in exp.index:
        for c in ("n_docs", "n_tokens", "max_tok", "min_tok"):
            if int(got.loc[shard, c]) != int(exp.loc[shard, c]):
                errs.append(f"shard {shard}: {c} {got.loc[shard, c]}"
                            f" != {exp.loc[shard, c]}")
    # snake-dealt longest-first shards must be token-balanced: spread < one
    # max-doc width
    spread = int(exp["n_tokens"].max() - exp["n_tokens"].min())
    if spread > int(docs["n_tok"].max()):
        errs.append(f"shards not token-balanced: spread {spread}")
    return errs


def check_q254_dsir(con, sf_dir, spark_out, buckets=256):
    import hashlib
    docs = load(con, sf_dir, "documents", "doc_id, lang, text")
    per_doc = {}       # doc_id -> {bucket: k}
    ct = np.zeros(buckets, dtype=np.int64)   # target (en) bucket counts
    cr = np.zeros(buckets, dtype=np.int64)   # raw corpus bucket counts
    for _, row in docs.iterrows():
        tk = tokenize(row["text"])
        if len(tk) < 2:
            continue
        buck = {}
        for i in range(len(tk) - 1):
            bg = tk[i] + " " + tk[i + 1]
            b = int(hashlib.md5(bg.encode()).hexdigest()[:3], 16) % buckets
            buck[b] = buck.get(b, 0) + 1
        per_doc[row["doc_id"]] = buck
        for b, k in buck.items():
            cr[b] += k
            if row["lang"] == "en":
                ct[b] += k
    nt, nr = float(ct.sum()), float(cr.sum())
    got = dump(spark_out, "q254_dsir_weights").set_index("doc_id")
    errs = []
    if len(got) != len(per_doc):
        errs.append(f"doc count {len(got)} != {len(per_doc)}")
    bad = 0
    for doc_id, buck in per_doc.items():
        n = sum(buck.values())
        lw = sum(k * math.log(((ct[b] + 1) / (nt + buckets)) /
                              ((cr[b] + 1) / (nr + buckets)))
                 for b, k in buck.items())
        row = got.loc[doc_id]
        if int(row["n_bigrams"]) != n or \
           not close(row["avg_log_ratio"], lw / n, 6e-7):
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(per_doc)} docs differ from first-principles"
                    f" DSIR recompute")
    return errs


def spark_round(x, scale):
    """Spark's round(double, n): BigDecimal(Double.toString(x)) HALF_UP.
    Python's repr is the same shortest round-trip decimal form."""
    from decimal import Decimal, ROUND_HALF_UP
    return float(Decimal(repr(float(x))).quantize(
        Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP))


def check_q250_chunk_pack(con, sf_dir, spark_out, cap=2048):
    docs = load(con, sf_dir, "documents", "doc_id, text")
    docs["n_tok"] = docs["text"].map(lambda t: len(tokenize(t)))
    docs = docs[docs["n_tok"] > 0].sort_values("doc_id").reset_index(drop=True)
    cum = docs["n_tok"].cumsum()
    docs["tok_start"] = cum - docs["n_tok"]
    docs["first_chunk"] = docs["tok_start"] // cap
    docs["last_chunk"] = (cum - 1) // cap
    got = dump(spark_out, "q250_chunk_pack").set_index("doc_id")
    errs = []
    if len(got) != len(docs):
        errs.append(f"doc count {len(got)} != {len(docs)}")
    bad = 0
    for _, r in docs.iterrows():
        g = got.loc[r["doc_id"]]
        if any(int(g[c]) != int(r[c])
               for c in ("n_tok", "tok_start", "first_chunk", "last_chunk")):
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(docs)} docs differ from sequential prefix sum")
    return errs


def check_q251_chunk_summary(con, sf_dir, spark_out, cap=2048):
    docs = load(con, sf_dir, "documents", "doc_id, text")
    docs["n_tok"] = docs["text"].map(lambda t: len(tokenize(t)))
    docs = docs[docs["n_tok"] > 0].sort_values("doc_id")
    n_docs = {}
    n_tokens = {}
    start = 0
    for nt in docs["n_tok"]:
        end = start + nt
        for ch in range(start // cap, (end - 1) // cap + 1):
            n_docs[ch] = n_docs.get(ch, 0) + 1
            n_tokens[ch] = n_tokens.get(ch, 0) + (
                min(end, (ch + 1) * cap) - max(start, ch * cap))
        start = end
    got = dump(spark_out, "q251_chunk_summary").set_index("chunk_id")
    errs = []
    if len(got) != len(n_docs):
        errs.append(f"chunk count {len(got)} != {len(n_docs)}")
    for ch in n_docs:
        g = got.loc[ch]
        if int(g["n_docs"]) != n_docs[ch] or int(g["n_tokens"]) != n_tokens[ch]:
            errs.append(f"chunk {ch}: ({g['n_docs']},{g['n_tokens']})"
                        f" != ({n_docs[ch]},{n_tokens[ch]})")
    last = max(n_tokens)
    if any(v != cap for ch, v in n_tokens.items() if ch != last):
        errs.append("packing invariant broken: a non-final chunk is not full")
    return errs


def _kmeans_assign(X, cents_items):
    """Assign each row to nearest centroid: round(d2, 6) asc, cl asc."""
    out = {}
    for vid, x in X.items():
        best = min(((spark_round(float(((x - c) ** 2).sum()), 6), cl)
                    for cl, c in cents_items), key=lambda t: t)
        out[vid] = best[1]
    return out


def check_q151_kmeans(con, sf_dir, spark_out):
    emb = load(con, sf_dir, "embeddings", "vec_id, embedding")
    X = {int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
         for _, r in emb.iterrows()}
    cents = [(cl, X[cl]) for cl in range(4)]
    for _ in range(1):  # assign -> recompute once, then final assign below
        a = _kmeans_assign(X, cents)
        cents = [(cl, np.mean([X[v] for v, c in a.items() if c == cl], axis=0))
                 for cl in sorted({c for c in a.values()})]
    a2 = _kmeans_assign(X, cents)
    finals = {cl: np.mean([X[v] for v, c in a2.items() if c == cl], axis=0)
              for cl in sorted({c for c in a2.values()})}
    sizes = {cl: sum(1 for c in a2.values() if c == cl) for cl in finals}
    got = dump(spark_out, "q151_kmeans").set_index(["cluster", "dim"])
    errs = []
    bad = 0
    for cl, cen in finals.items():
        for dim, v in enumerate(cen):
            g = got.loc[(cl, dim)]
            if int(g["n_points"]) != sizes[cl] or \
               not close(g["centroid"], v, 6e-7):
                bad += 1
    if bad:
        errs.append(f"{bad} centroid cells differ from numpy Lloyd recompute")
    if len(got) != sum(len(c) for c in finals.values()):
        errs.append(f"cell count {len(got)} != "
                    f"{sum(len(c) for c in finals.values())}")
    return errs


def check_q252_semantic_dedup(con, sf_dir, spark_out, tau=0.30):
    emb = load(con, sf_dir, "embeddings", "vec_id, embedding")
    X = {int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
         for _, r in emb.iterrows()}
    # K = max(8, ceil(N/2500)) — the scale-adaptive seed count (engine's
    # SemDedupK/SemDedupPerCluster contract); K==8 at every gate tier.
    k = max(8, -(-len(X) // 2500))
    seeds = [(cl, X[cl]) for cl in range(k)]
    assign = _kmeans_assign(X, seeds)
    nrm = {v: math.sqrt(float((x * x).sum())) for v, x in X.items()}
    pruned = set()
    by_cl = {}
    for v, cl in assign.items():
        by_cl.setdefault(cl, []).append(v)
    for cl, vs in by_cl.items():
        vs.sort()
        for i in range(len(vs)):
            for j in range(i + 1, len(vs)):
                a, b = vs[i], vs[j]
                cos = spark_round(
                    float(X[a] @ X[b]) / (nrm[a] * nrm[b]), 6)
                if cos >= tau:
                    pruned.add(b)
    got = dump(spark_out, "q252_semantic_dedup").set_index("vec_id")
    errs = []
    bad = 0
    for v in X:
        g = got.loc[v]
        if int(g["cluster"]) != assign[v] or \
           bool(g["is_kept"]) != (v not in pruned):
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(X)} rows differ from first-principles"
                    f" cluster-prune recompute")
    return errs


def check_q237_ppr(con, sf_dir, spark_out, iters=10, damp=0.85):
    ck = clicks(con, sf_dir)[["userId", "newsId"]].drop_duplicates()
    e0 = {(int(u) * 2, int(v) * 2 + 1) for u, v in
          zip(ck["userId"], ck["newsId"])}
    edges = list(e0) + [(v, u) for u, v in e0]
    seeds = {v for _, v in e0 if ((v - 1) // 2) % 100 == 0}
    nodes = sorted({s for s, _ in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for s, _ in edges:
        out[idx[s]] += 1
    svec = np.zeros(n)
    for v in seeds:
        svec[idx[v]] = 1.0 / len(seeds)
    r = svec.copy()
    for _ in range(iters):
        m = np.zeros(n)
        contrib = r / out
        for s, d in edges:
            m[idx[d]] += contrib[idx[s]]
        r = (1 - damp) * svec + damp * m
    got = dump(spark_out, "q237_personalized_pr")
    got["id"] = got.apply(
        lambda row: int(row["ref_id"]) * 2 + (0 if row["kind"] == "user" else 1),
        axis=1)
    got = got.set_index("id")
    errs = []
    if len(got) != n:
        errs.append(f"node count {len(got)} != {n}")
    bad = sum(1 for v in nodes if not close(got.loc[v, "rank"], r[idx[v]], 1e-7))
    if bad:
        errs.append(f"{bad}/{n} ranks differ from numpy PPR beyond 1e-7")
    # seed mass sanity: teleport returns to seeds, so seed ranks must carry
    # more mass per node than non-seeds on average
    seed_avg = float(np.mean([r[idx[v]] for v in seeds]))
    rest_avg = float(np.mean([r[idx[v]] for v in nodes if v not in seeds]))
    if seed_avg <= rest_avg:
        errs.append("seed nodes do not dominate: PPR teleport suspect")
    return errs


def check_q116_twa(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events", "user_id, event_id, ts, value")
    got = dump(spark_out, "q116_time_weighted_avg").set_index("user_id")
    errs = []
    n_checked = 0
    bad = 0
    for uid, grp in ev.groupby("user_id"):
        g = grp.sort_values(["ts", "event_id"])
        t = g["ts"].astype("int64").to_numpy() // 1000  # ns -> µs
        v = g["value"].to_numpy(dtype=np.float64)
        if len(g) < 2:
            if uid in got.index:
                errs.append(f"user {uid}: single-event user should be dropped")
            continue
        dt = (t[1:] - t[:-1]).astype(np.float64)
        twa = float(((v[:-1] + v[1:]) / 2.0 * dt).sum() / dt.sum())
        n_checked += 1
        row = got.loc[uid]
        if int(row["n_events"]) != len(g) or not close(row["twa"], twa, 6e-7):
            bad += 1
    if bad:
        errs.append(f"{bad}/{n_checked} users differ from trapezoid recompute")
    return errs


def check_q90_corr(con, sf_dir, spark_out):
    li = load(con, sf_dir, "lineitem",
              "l_quantity AS q, l_extendedprice AS p, l_discount AS dc")
    q, p, dc = (li[c].to_numpy(dtype=np.float64) for c in ("q", "p", "dc"))
    row = dump(spark_out, "q90_corr_matrix").iloc[0]
    errs = []
    for name, a, b in (("corr_qty_price", q, p), ("corr_qty_disc", q, dc),
                       ("corr_price_disc", p, dc)):
        r = float(np.corrcoef(a, b)[0, 1])
        if not close(row[name], r, 6e-7):
            errs.append(f"{name} {row[name]} vs numpy {r:.9f}")
    cov = float(np.cov(q, p, ddof=1)[0, 1])
    if not close(row["covar_qty_price"], cov, 6e-4):
        errs.append(f"covar_qty_price {row['covar_qty_price']} vs {cov:.6f}")
    return errs


def _doc_tokens(con, sf_dir):
    docs = load(con, sf_dir, "documents", "doc_id, text")
    return {int(r["doc_id"]): tokenize(r["text"]) for _, r in docs.iterrows()}


def check_q201_bm25(con, sf_dir, spark_out, k1=1.2, b=0.75):
    toks = _doc_tokens(con, sf_dir)
    tf = {}
    for d, tk in toks.items():
        for w in tk:
            tf.setdefault(d, {})
            tf[d][w] = tf[d].get(w, 0) + 1
    dfreq = {}
    for d in tf:
        for w in tf[d]:
            dfreq[w] = dfreq.get(w, 0) + 1
    terms = sorted(dfreq.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    n = len(toks)
    avgdl = sum(len(tk) for tk in toks.values()) / n
    scores = {}
    for w, df_w in terms:
        idf = math.log(1 + (n - df_w + 0.5) / (df_w + 0.5))
        for d in tf:
            if w in tf[d]:
                f = tf[d][w]
                dl = len(toks[d])
                scores[d] = scores.get(d, 0.0) + \
                    idf * f * (k1 + 1) / (f + k1 * (1 - b + b * dl / avgdl))
    top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = dump(spark_out, "q201_bm25").sort_values("rank")
    errs = []
    for rank, ((d, sc), (_, row)) in enumerate(zip(top, got.iterrows()), 1):
        if int(row["doc_id"]) != d or int(row["rank"]) != rank or \
           not close(row["score"], sc, 6e-7):
            errs.append(f"rank {rank}: ({row['doc_id']},{row['score']})"
                        f" != ({d},{sc:.9f})")
    return errs


def check_q202_rrf(con, sf_dir, spark_out, rrf_k=60):
    # lexical leg: full BM25 ranking (same derivation as check_q201_bm25)
    toks = _doc_tokens(con, sf_dir)
    tf = {}
    for d, tk in toks.items():
        tf[d] = {}
        for w in tk:
            tf[d][w] = tf[d].get(w, 0) + 1
    dfreq = {}
    for d in tf:
        for w in tf[d]:
            dfreq[w] = dfreq.get(w, 0) + 1
    terms = sorted(dfreq.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    n = len(toks)
    avgdl = sum(len(tk) for tk in toks.values()) / n
    bm = {}
    for w, df_w in terms:
        idf = math.log(1 + (n - df_w + 0.5) / (df_w + 0.5))
        for d in tf:
            if w in tf[d]:
                f = tf[d][w]
                dl = len(toks[d])
                bm[d] = bm.get(d, 0.0) + \
                    idf * f * 2.2 / (f + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
    # engine rounds BM25 scores to 6 before ranking
    ra = {d: r for r, (d, _) in enumerate(
        sorted(((d, spark_round(s, 6)) for d, s in bm.items()),
               key=lambda kv: (-kv[1], kv[0])), 1)}
    # vector leg: cosine to the seed-centroid query vector
    emb = load(con, sf_dir, "embeddings", "vec_id, embedding")
    X = {int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
         for _, r in emb.iterrows()}
    qv = np.mean([X[v] for v in range(5)], axis=0)
    qn = math.sqrt(float((qv * qv).sum()))
    cos = {v: spark_round(float(x @ qv) / (math.sqrt(float((x * x).sum())) * qn), 6)
           for v, x in X.items()}
    rb = {v: r for r, (v, _) in enumerate(
        sorted(cos.items(), key=lambda kv: (-kv[1], kv[0])), 1)}
    fused = {}
    for d in set(ra) | set(rb):
        fused[d] = (1.0 / (ra[d] + rrf_k) if d in ra else 0.0) + \
                   (1.0 / (rb[d] + rrf_k) if d in rb else 0.0)
    top = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = dump(spark_out, "q202_hybrid_rrf")
    got = got.sort_values(["rrf", "doc_id"], ascending=[False, True])
    errs = []
    for (d, s), (_, row) in zip(top, got.iterrows()):
        # engine reports round(rrf, 9)
        if int(row["doc_id"]) != d or not close(row["rrf"], s, 6e-10):
            errs.append(f"({row['doc_id']},{row['rrf']}) != ({d},{s:.12f})")
    return errs


def _hot_rec_hits(con, sf_dir):
    """recs(D) = top-10 hottest news of D-1; per active user-day, the
    distinct-click set, its size m, and hit positions."""
    ck = clicks(con, sf_dir)
    daily = ck.groupby(["date", "newsId"]).size().reset_index(name="c")
    recs = {}   # rdate -> [(newsId, p)]
    for date, grp in daily.groupby("date"):
        top = grp.sort_values(["c", "newsId"],
                              ascending=[False, True]).head(10)
        recs[date + pd.Timedelta(days=1)] = \
            {int(nid): p for p, nid in enumerate(top["newsId"], 1)}
    uc = ck.drop_duplicates(["date", "userId", "newsId"])
    out = []   # (date, userId, m, hit positions)
    for (date, uid), grp in uc.groupby(["date", "userId"]):
        rd = recs.get(pd.Timestamp(date))
        if rd is None:
            continue
        ps = sorted(rd[int(n)] for n in grp["newsId"] if int(n) in rd)
        out.append((pd.Timestamp(date), uid, len(grp), ps))
    return out


def check_q125_ndcg(con, sf_dir, spark_out):
    rows = _hot_rec_hits(con, sf_dir)
    per_date = {}
    for date, _, m, ps in rows:
        dcg = sum(1.0 / math.log2(p + 1) for p in ps)
        idcg = sum(1.0 / math.log2(i + 1) for i in range(1, min(m, 10) + 1))
        per_date.setdefault(date, []).append(dcg / idcg)
    got = dump(spark_out, "q125_ndcg")
    got["date"] = pd.to_datetime(got["date"])
    got = got.set_index("date")
    errs = []
    for date, vals in per_date.items():
        row = got.loc[date]
        if int(row["n_users"]) != len(vals) or \
           not close(row["avg_ndcg"], sum(vals) / len(vals), 6e-7):
            errs.append(f"{date.date()}: ({row['n_users']},{row['avg_ndcg']})"
                        f" != ({len(vals)},{sum(vals)/len(vals):.9f})")
    if len(got) != len(per_date):
        errs.append(f"date count {len(got)} != {len(per_date)}")
    return errs


def check_q133_recall(con, sf_dir, spark_out):
    rows = _hot_rec_hits(con, sf_dir)
    per_date = {}
    for date, _, m, ps in rows:
        per_date.setdefault(date, []).append(len(ps) / m)
    got = dump(spark_out, "q133_recall")
    got["date"] = pd.to_datetime(got["date"])
    got = got.set_index("date")
    errs = []
    for date, vals in per_date.items():
        row = got.loc[date]
        if int(row["n_users"]) != len(vals) or \
           not close(row["avg_recall"], sum(vals) / len(vals), 6e-7):
            errs.append(f"{date.date()}: recall mismatch")
    return errs


def check_q134_map(con, sf_dir, spark_out):
    rows = _hot_rec_hits(con, sf_dir)
    per_date = {}
    for date, _, m, ps in rows:
        ap = sum(r / p for r, p in enumerate(ps, 1)) / min(m, 10)
        per_date.setdefault(date, []).append(ap)
    got = dump(spark_out, "q134_map_eval")
    got["date"] = pd.to_datetime(got["date"])
    got = got.set_index("date")
    errs = []
    for date, vals in per_date.items():
        row = got.loc[date]
        if int(row["n_users"]) != len(vals) or \
           not close(row["map10"], sum(vals) / len(vals), 6e-7):
            errs.append(f"{date.date()}: map mismatch")
    return errs


def check_q123_bigram_lm(con, sf_dir, spark_out):
    toks = _doc_tokens(con, sf_dir)
    per_doc = {}   # doc -> {(w1,w2): k}
    for d, tk in toks.items():
        if len(tk) < 2:
            continue
        bg = {}
        for i in range(len(tk) - 1):
            bg[(tk[i], tk[i + 1])] = bg.get((tk[i], tk[i + 1]), 0) + 1
        per_doc[d] = bg
    c2 = {}
    c1 = {}
    for bg in per_doc.values():
        for (w1, w2), k in bg.items():
            c2[(w1, w2)] = c2.get((w1, w2), 0) + k
            c1[w1] = c1.get(w1, 0) + k
    vocab = len({w for tk in toks.values() for w in tk})
    got = dump(spark_out, "q123_bigram_lm").set_index("doc_id")
    errs = []
    bad = 0
    for d, bg in per_doc.items():
        n = sum(bg.values())
        lp = sum(k * math.log((c2[(w1, w2)] + 1) / (c1[w1] + vocab))
                 for (w1, w2), k in bg.items())
        row = got.loc[d]
        if int(row["n_bigrams"]) != n or \
           not close(row["avg_logp"], lp / n, 6e-7):
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(per_doc)} docs differ from add-1 bigram LM")
    if len(got) != len(per_doc):
        errs.append(f"doc count {len(got)} != {len(per_doc)}")
    return errs


def check_q124_zscore(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events", "event_type, CAST(ts AS DATE) AS day")
    got = dump(spark_out, "q124_rolling_zscore")
    got["day"] = pd.to_datetime(got["day"])
    got = got.set_index(["event_type", "day"])
    errs = []
    n_exp = 0
    for et, grp in ev.groupby("event_type"):
        daily = grp.groupby("day").size().sort_index()
        c = daily.to_numpy(dtype=np.float64)
        days = pd.to_datetime(daily.index)
        for i in range(len(c)):
            prior = c[max(0, i - 7):i]
            if len(prior) < 3 or prior.std(ddof=1) == 0:
                continue
            n_exp += 1
            z = (c[i] - prior.mean()) / prior.std(ddof=1)
            row = got.loc[(et, days[i])]
            if int(row["n_events"]) != int(c[i]) or \
               not close(row["z"], z, 6e-7) or \
               int(row["is_spike"]) != int(z > 2.0):
                errs.append(f"{et} {days[i].date()}: z {row['z']}"
                            f" vs {z:.9f}")
    if len(got) != n_exp:
        errs.append(f"row count {len(got)} != {n_exp}")
    return errs


def check_q135_markov(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events",
              "user_id, ts, event_id", "event_type = 'click'")
    trans = {}
    for _, grp in ev.groupby("user_id"):
        g = grp.sort_values(["ts", "event_id"])
        news = (g["event_id"] % 500).tolist()
        for a, b in zip(news, news[1:]):
            trans[(a, b)] = trans.get((a, b), 0) + 1
    top = sorted(trans.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = dump(spark_out, "q135_markov_transitions")
    got = got.sort_values(["n", "src_news", "dst_news"],
                          ascending=[False, True, True])
    errs = []
    for ((a, b), n), (_, row) in zip(top, got.iterrows()):
        if (int(row["src_news"]), int(row["dst_news"]), int(row["n"])) \
           != (a, b, n):
            errs.append(f"({row['src_news']},{row['dst_news']},{row['n']})"
                        f" != ({a},{b},{n})")
    return errs


def check_q185_entropy(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events",
              "user_id, ts, event_id", "event_type = 'click'")
    trans = {}
    for _, grp in ev.groupby("user_id"):
        g = grp.sort_values(["ts", "event_id"])
        news = (g["event_id"] % 50).tolist()
        for a, b in zip(news, news[1:]):
            trans.setdefault(a, {})
            trans[a][b] = trans[a].get(b, 0) + 1
    got = dump(spark_out, "q185_transition_entropy").set_index("src")
    errs = []
    for src, dsts in trans.items():
        tot = sum(dsts.values())
        ent = -sum((k / tot) * math.log(k / tot) for k in dsts.values())
        row = got.loc[src]
        if int(row["n_dsts"]) != len(dsts) or \
           not close(row["entropy"], ent, 6e-7):
            errs.append(f"src {src}: entropy {row['entropy']} vs {ent:.9f}")
    return errs


def check_q100_ewma(con, sf_dir, spark_out, alpha=0.3):
    ck = clicks(con, sf_dir)
    got = dump(spark_out, "q100_ewma_trend").set_index("news_id")
    errs = []
    bad = 0
    daily = ck.groupby(["newsId", "date"]).size()
    for nid, series in daily.groupby(level=0):
        c = series.sort_index(level=1).to_numpy(dtype=np.float64)
        ew = c[0]
        for x in c[1:]:
            ew = alpha * x + (1 - alpha) * ew
        row = got.loc[nid]
        # the lane derives lift from the DISPLAY-ROUNDED ewma column
        lift = c[-1] / spark_round(ew, 6)
        if int(row["n_days"]) != len(c) or \
           not close(row["last_count"], c[-1], 1e-9) or \
           not close(row["ewma"], ew, 6e-7) or \
           not close(row["lift"], lift, 6e-7):
            bad += 1
    if bad:
        errs.append(f"{bad} news series differ from scalar EWMA fold")
    return errs


def check_q30_ann(con, sf_dir, spark_out, k=5):
    emb = load(con, sf_dir, "embeddings", "vec_id, embedding")
    X = {int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
         for _, r in emb.iterrows()}
    nrm = {v: math.sqrt(float((x * x).sum())) for v, x in X.items()}
    qs = [v for v in X if v < 10]
    cands = [v for v in X if v >= 10]
    got = dump(spark_out, "q30_ann_topk").set_index(["q_id", "rn"])
    errs = []
    for q in qs:
        scored = sorted(
            ((spark_round(float(X[q] @ X[c]) / (nrm[q] * nrm[c]), 6), c)
             for c in cands), key=lambda t: (-t[0], t[1]))[:k]
        for rn, (cos, c) in enumerate(scored, 1):
            row = got.loc[(q, rn)]
            if int(row["c_id"]) != c or not close(row["cosine"], cos, 1e-9):
                errs.append(f"q {q} rn {rn}: ({row['c_id']},{row['cosine']})"
                            f" != ({c},{cos})")
    return errs


def check_q28_simhash(con, sf_dir, spark_out):
    import hashlib
    got = dump(spark_out, "q28_simhash").set_index("doc_id")
    toks = _doc_tokens(con, sf_dir)
    errs = []
    bad = 0
    for d, tk in toks.items():
        votes = [0] * 32
        counts = {}
        for w in tk:
            counts[w] = counts.get(w, 0) + 1
        for w, tf in counts.items():
            md = hashlib.md5(w.encode()).digest()
            h = (md[0] << 24) | (md[1] << 16) | (md[2] << 8) | md[3]
            for j in range(32):
                votes[j] += tf if (h >> j) & 1 else -tf
        sh = sum(1 << j for j in range(32) if votes[j] > 0)
        if sh >= 1 << 31:   # engine emits a signed 32-bit Int
            sh -= 1 << 32
        if int(got.loc[d, "simhash"]) != sh:
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(toks)} simhashes differ from bit-vote"
                    f" recompute")
    return errs


def _jaccard_pairs_errs(pairs, sets, got, a_col, b_col):
    errs = []
    for a, b in pairs:
        inter = len(sets[a] & sets[b])
        j = inter / (len(sets[a]) + len(sets[b]) - inter)
        row = got.loc[(a, b)]
        if not close(row["jaccard"], j, 6e-7):
            errs.append(f"({a},{b}): jaccard {row['jaccard']} vs {j:.9f}")
    return errs


def check_q27_jaccard(con, sf_dir, spark_out, n=3):
    toks = _doc_tokens(con, sf_dir)
    sets = {d: {" ".join(tk[i:i + n]) for i in range(len(tk) - n + 1)}
            if len(tk) >= n else set() for d, tk in toks.items()}
    pairs = [(d, d + 1) for d in sorted(toks) if d + 1 in toks]
    got = dump(spark_out, "q27_ngram_jaccard").set_index(["doc_a", "doc_b"])
    errs = _jaccard_pairs_errs(pairs, sets, got, "doc_a", "doc_b")
    if len(got) != len(pairs):
        errs.append(f"pair count {len(got)} != {len(pairs)}")
    return errs


def check_q119_user_sim(con, sf_dir, spark_out):
    ck = clicks(con, sf_dir)[["userId", "newsId"]].drop_duplicates()
    sets = {int(u): set(g["newsId"].astype(int))
            for u, g in ck.groupby("userId")}
    df = {}
    for s in sets.values():
        for n in s:
            df[n] = df.get(n, 0) + 1
    rare = {n for n, c in df.items() if c <= 50}
    co = {}
    users = sorted(sets)
    by_item = {}
    for u in users:
        for n in sets[u] & rare:
            by_item.setdefault(n, []).append(u)
    for us in by_item.values():
        for i in range(len(us)):
            for j in range(i + 1, len(us)):
                co[(us[i], us[j])] = co.get((us[i], us[j]), 0) + 1
    pairs = [p for p, c in co.items() if c >= 2]
    exp = {}
    for a, b in pairs:
        inter = len(sets[a] & sets[b])
        j = inter / (len(sets[a]) + len(sets[b]) - inter)
        if spark_round(j, 6) >= 0.05:
            exp[(a, b)] = j
    got = dump(spark_out, "q119_user_set_sim").set_index(["user_a", "user_b"])
    errs = []
    if len(got) != len(exp):
        errs.append(f"pair count {len(got)} != {len(exp)}")
    for (a, b), j in exp.items():
        if (a, b) not in got.index:
            errs.append(f"pair ({a},{b}) missing")
        elif not close(got.loc[(a, b), "jaccard"], j, 6e-7):
            errs.append(f"({a},{b}): jaccard mismatch")
    return errs


# ------------------------------------------------- reference pipeline core

FROM_DATE = pd.Timestamp("2024-01-05")
TO_DATE = pd.Timestamp("2024-01-25")
NUM_DAYS = 7


def _tfidf_profiles(con, sf_dir):
    """The shared E1 profile build: news top-8 TF-IDF keywords (with the
    doc_id%30-derived publication date) and user top-8 profiles from
    click-weighted news term counts. Values = round6(tf * ln(N/df))."""
    toks = _doc_tokens(con, sf_dir)
    n_docs = len(toks)
    tf = {d: {} for d in toks}
    for d, tk in toks.items():
        for w in tk:
            tf[d][w] = tf[d].get(w, 0) + 1
    dfreq = {}
    for d in tf:
        for w in tf[d]:
            dfreq[w] = dfreq.get(w, 0) + 1

    def top8(scored):
        return sorted(scored, key=lambda t: (-t[1], t[0]))[:8]

    news_kw = {}
    for d in tf:
        scored = [(w, spark_round(k * math.log(n_docs / dfreq[w]), 6))
                  for w, k in tf[d].items()]
        news_kw[d] = top8(scored)
    news_date = {d: pd.Timestamp("2024-01-01") + pd.Timedelta(days=d % 30)
                 for d in toks}

    ck = clicks(con, sf_dir)
    user_news = ck.groupby(["userId", "newsId"]).size()
    utf = {}
    for (u, nid), c in user_news.items():
        if nid not in tf:
            continue
        for w, k in tf[nid].items():
            utf.setdefault(u, {})
            utf[u][w] = utf[u].get(w, 0) + c * k
    user_kw = {}
    for u, words in utf.items():
        scored = [(w, spark_round(k * math.log(n_docs / dfreq[w]), 6))
                  for w, k in words.items()]
        user_kw[u] = top8(scored)
    return news_kw, news_date, user_kw, ck


def _rec_scores(news_kw, news_date, user_kw, active_users, mode, score_round):
    """Day-invariant (user, news) scores over in-range news for the given
    active-user set; mode 'dot' or 'cosine' (calculateX)."""
    in_range = {d for d, dt in news_date.items()
                if FROM_DATE <= dt <= TO_DATE + pd.Timedelta(days=NUM_DAYS)}
    inv = {}   # word -> [(news, value)]
    for d in in_range:
        for w, v in news_kw[d]:
            inv.setdefault(w, []).append((d, v))
    scores = {}
    for u in active_users:
        prof = user_kw.get(u)
        if not prof:
            continue
        acc = {}
        common = {}
        for w, uv in prof:
            for d, nv in inv.get(w, ()):
                acc[d] = acc.get(d, 0.0) + uv * nv
                common[d] = common.get(d, 0) + 1
        for d in acc:
            if mode == "dot":
                sc = acc[d]
            else:
                sc = common[d] / (len(prof) * len(news_kw[d]))
            sc = spark_round(sc, score_round)
            if sc > 0:
                scores[(u, d)] = sc
    return scores


def check_q21_q22(con, sf_dir, spark_out, lane, mode, score_round):
    news_kw, news_date, user_kw, ck = _tfidf_profiles(con, sf_dir)
    today = pd.Timestamp("2024-01-15")
    active = {int(u) for u in
              ck.loc[pd.to_datetime(ck["date"]) == today, "userId"]}
    # single-day scene: in-range = [today, today+7]; eligible day = today
    global FROM_DATE, TO_DATE
    save = (FROM_DATE, TO_DATE)
    FROM_DATE = TO_DATE = today
    try:
        scores = _rec_scores(news_kw, news_date, user_kw, active,
                             mode, score_round)
    finally:
        FROM_DATE, TO_DATE = save
    per_user = {}
    for (u, d), sc in scores.items():
        per_user.setdefault(u, []).append((sc, d))
    got = dump(spark_out, lane).set_index(["userId", "rn"])
    errs = []
    n_rows = 0
    for u, lst in per_user.items():
        top = sorted(lst, key=lambda t: (-t[0], t[1]))[:5]
        for rn, (sc, d) in enumerate(top, 1):
            n_rows += 1
            row = got.loc[(u, rn)]
            if int(row["newsId"]) != d or not close(row["score"], sc, 1e-9):
                errs.append(f"user {u} rn {rn}: ({row['newsId']},"
                            f"{row['score']}) != ({d},{sc})")
    if len(got) != n_rows:
        errs.append(f"row count {len(got)} != {n_rows}")
    return errs


def check_q21(con, sf_dir, spark_out):
    return check_q21_q22(con, sf_dir, spark_out, "q21_rec_dot", "dot", 4)


def check_q22(con, sf_dir, spark_out):
    return check_q21_q22(con, sf_dir, spark_out, "q22_rec_cosine",
                         "cosine", 6)


def _rec_lists(con, sf_dir, k=5):
    """q23/q46's all-days run: per (day, user) top-k dot-scored news, ranked
    score desc / newsId asc; k=None keeps every positive score (q220)."""
    news_kw, news_date, user_kw, ck = _tfidf_profiles(con, sf_dir)
    ckd = ck.copy()
    ckd["date"] = pd.to_datetime(ckd["date"])
    act = ckd[(ckd["date"] >= FROM_DATE) & (ckd["date"] <= TO_DATE)]
    active_by_day = {pd.Timestamp(day): {int(u) for u in g["userId"]}
                     for day, g in act.groupby("date")}
    all_active = set().union(*active_by_day.values())
    scores = _rec_scores(news_kw, news_date, user_kw, all_active, "dot", 4)
    per_day_user = {}
    for (u, d), sc in scores.items():
        dt = news_date[d]
        lo = max(dt - pd.Timedelta(days=NUM_DAYS), FROM_DATE)
        hi = min(dt, TO_DATE)
        day = lo
        while day <= hi:
            if u in active_by_day.get(day, ()):
                per_day_user.setdefault((day, u), []).append((sc, d))
            day += pd.Timedelta(days=1)
    lists = {}
    for (day, u), lst in per_day_user.items():
        top = sorted(lst, key=lambda t: (-t[0], t[1]))[:k]
        lists[(day, u)] = [d for _, d in top]
    return lists, ckd


def _rec_lists_errs(lists, got):
    """Compare {(day, user): [newsIds]} with a (userId, date, news) dump
    whose news is the comma-joined ranked list."""
    got["date"] = pd.to_datetime(got["date"])
    got = got.set_index(["userId", "date"])
    errs = []
    if len(got) != len(lists):
        errs.append(f"row count {len(got)} != {len(lists)}")
    bad = 0
    for (day, u), ids in lists.items():
        exp = ",".join(str(i) for i in ids)
        if (u, day) not in got.index or got.loc[(u, day), "news"] != exp:
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(lists)} rec lists differ")
    return errs


def check_q23(con, sf_dir, spark_out):
    lists, _ = _rec_lists(con, sf_dir)
    return _rec_lists_errs(lists, dump(spark_out, "q23_rec_lists"))


def check_q220(con, sf_dir, spark_out):
    """T2: q23's scorer without the top-5 cut — every positive score."""
    lists, _ = _rec_lists(con, sf_dir, k=None)
    return _rec_lists_errs(lists, dump(spark_out, "q220_rec_unbounded"))


def _precision_errs(recs, ckd, got):
    """recs: {(day, user): [newsIds]}. Per-date hit stats."""
    clicked = {(pd.Timestamp(r["date"]), int(r["userId"]), int(r["newsId"]))
               for _, r in ckd.iterrows()}
    per_date = {}
    for (day, u), ids in recs.items():
        h, n = per_date.get(day, (0, 0))
        hits = sum(1 for i in ids if (day, u, i) in clicked)
        per_date[day] = (h + hits, n + len(ids))
    errs = []
    if len(got) != len(per_date):
        errs.append(f"date count {len(got)} != {len(per_date)}")
    for day, (h, n) in per_date.items():
        row = got.loc[day]
        if int(row["n_hits"]) != h or int(row["n_recommended"]) != n or \
           not close(row["precision"], h / n, 6e-7):
            errs.append(f"{day.date()}: ({row['n_hits']},"
                        f"{row['n_recommended']}) != ({h},{n})")
    return errs


def check_q46(con, sf_dir, spark_out):
    lists, ckd = _rec_lists(con, sf_dir)
    got = dump(spark_out, "q46_precision_rec")
    got["date"] = pd.to_datetime(got["date"])
    return _precision_errs(lists, ckd, got.set_index("date"))


def _hot_topics(con, sf_dir, k=10):
    """E3: per loop-day window counts, top-k (clicks desc, newsId asc)."""
    ck = clicks(con, sf_dir)
    ckd = ck.copy()
    ckd["date"] = pd.to_datetime(ckd["date"])
    counts = {}
    for (date, nid), c in ckd.groupby(["date", "newsId"]).size().items():
        lo = max(pd.Timestamp(date), FROM_DATE)
        hi = min(pd.Timestamp(date) + pd.Timedelta(days=NUM_DAYS), TO_DATE)
        day = lo
        while day <= hi:
            counts[(day, int(nid))] = counts.get((day, int(nid)), 0) + c
            day += pd.Timedelta(days=1)
    per_day = {}
    for (day, nid), c in counts.items():
        per_day.setdefault(day, []).append((c, nid))
    return {day: sorted(lst, key=lambda t: (-t[0], t[1]))[:k]
            for day, lst in per_day.items()}, ckd


def check_q19(con, sf_dir, spark_out):
    top, _ = _hot_topics(con, sf_dir)
    got = dump(spark_out, "q19_hot_topics")
    got["day"] = pd.to_datetime(got["day"])
    got = got.set_index(["day", "rn"])
    errs = []
    n = 0
    for day, lst in top.items():
        for rn, (c, nid) in enumerate(lst, 1):
            n += 1
            row = got.loc[(day, rn)]
            if int(row["newsId"]) != nid or int(row["clicks"]) != c:
                errs.append(f"{day.date()} rn {rn}: ({row['newsId']},"
                            f"{row['clicks']}) != ({nid},{c})")
    if len(got) != n:
        errs.append(f"row count {len(got)} != {n}")
    return errs


def check_q47(con, sf_dir, spark_out):
    """q19's ranking through the TopK aggregator: (day, newsId, rn) only."""
    top, _ = _hot_topics(con, sf_dir)
    got = dump(spark_out, "q47_hot_topics_agg")
    got["day"] = pd.to_datetime(got["day"])
    got = got.set_index(["day", "rn"])
    errs = []
    n = 0
    for day, lst in top.items():
        for rn, (_, nid) in enumerate(lst, 1):
            n += 1
            if (day, rn) not in got.index:
                errs.append(f"{day.date()} rn {rn}: missing")
            elif int(got.loc[(day, rn), "newsId"]) != nid:
                errs.append(f"{day.date()} rn {rn}: "
                            f"{got.loc[(day, rn), 'newsId']} != {nid}")
    if len(got) != n:
        errs.append(f"row count {len(got)} != {n}")
    return errs


def check_q24(con, sf_dir, spark_out):
    top, ckd = _hot_topics(con, sf_dir)
    act = ckd[(ckd["date"] >= FROM_DATE) & (ckd["date"] <= TO_DATE)]
    recs = {}
    for (day, u), _ in act.groupby(["date", "userId"]):
        day = pd.Timestamp(day)
        if day in top:
            recs[(day, int(u))] = [nid for _, nid in top[day]]
    got = dump(spark_out, "q24_precision_hot")
    got["date"] = pd.to_datetime(got["date"])
    return _precision_errs(recs, ckd, got.set_index("date"))


def check_q18(con, sf_dir, spark_out):
    toks = _doc_tokens(con, sf_dir)
    n_docs = len(toks)
    tf = {d: {} for d in toks}
    for d, tk in toks.items():
        for w in tk:
            tf[d][w] = tf[d].get(w, 0) + 1
    dfreq = {}
    for d in tf:
        for w in tf[d]:
            dfreq[w] = dfreq.get(w, 0) + 1
    got = dump(spark_out, "q18_tfidf_topk").set_index(["doc_id", "rn"])
    errs = []
    bad = 0
    n = 0
    for d in tf:
        scored = sorted(
            ((w, spark_round(k * math.log(n_docs / dfreq[w]), 6))
             for w, k in tf[d].items()), key=lambda t: (-t[1], t[0]))[:5]
        for rn, (w, sc) in enumerate(scored, 1):
            n += 1
            row = got.loc[(d, rn)]
            if row["word"] != w or not close(row["score"], sc, 1e-9):
                bad += 1
    if bad:
        errs.append(f"{bad}/{n} keyword rows differ from textbook TF-IDF")
    if len(got) != n:
        errs.append(f"row count {len(got)} != {n}")
    return errs


def _textrank_vote(words, num_keywords, d=0.85, max_it=30, min_diff=1e-4):
    """Reference F4 power iteration (sorted-word summation order)."""
    keys = sorted(words)
    idx = {k: i for i, k in enumerate(keys)}
    deg = [len(words[k]) for k in keys]
    adj = []
    for ki, k in enumerate(keys):
        a = sorted(idx[n] for n in words[k]
                   if idx[n] != ki and deg[idx[n]] != 0)
        adj.append(a)
    inv = [d / g if g else 0.0 for g in deg]
    score = [0.0] * len(keys)
    for _ in range(max_it):
        m = [0.0] * len(keys)
        max_diff = 0.0
        for i in range(len(keys)):
            v = 1 - d
            for ni in adj[i]:
                v += inv[ni] * score[ni]
            m[i] = v
            max_diff = max(max_diff, abs(v - score[i]))
        score = m
        if max_diff <= min_diff:
            break
    ranked = sorted(zip(keys, score), key=lambda t: (-t[1], t[0]))
    return ranked[:num_keywords]


def check_q39(con, sf_dir, spark_out, window=5, k=5):
    toks = _doc_tokens(con, sf_dir)
    got = dump(spark_out, "q39_textrank_kw")
    by_doc = {d: {r["word"]: r["value"] for _, r in g.iterrows()}
              for d, g in got.groupby("id")}
    errs = []
    bad = 0
    n = 0
    for d, tk in toks.items():
        words = {}
        for i, tok in enumerate(tk):
            s = words.setdefault(tok, set())
            left = max(0, i - window)
            right = i + window
            if right >= len(tk):
                right = 0   # reference tail clamp (TextRank.java:184)
            # the reference's cursor loop TERMINATES at the index (it does
            # not skip and continue right), so only the left half-window is
            # collected — replicate the while-loop shape exactly
            c = left
            while c <= right and c != i:
                s.add(tk[c])
                c += 1
        top = _textrank_vote(words, k)
        exp = {w: spark_round(v, 6) for w, v in top}
        gotd = by_doc.get(d, {})
        n += len(exp)
        if set(exp) != set(gotd) or \
           any(not close(gotd[w], v, 6e-7) for w, v in exp.items()):
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(toks)} docs differ from reference-contract"
                    f" TextRank recompute")
    if len(got) != n:
        errs.append(f"row count {len(got)} != {n}")
    return errs


_SIG_CACHE = {}


def _minhash_sigs(con, sf_dir, n=3, num_hashes=8):
    # Memoized per (sf_dir, n, num_hashes): checks that compare several
    # edge constructions (check_q281/q285 build star h=1, h=2 AND the
    # pair-complete set) would otherwise recompute the md5 signature
    # table 3x — at sf1 that is the difference between fitting the 900 s
    # per-lane cap and blowing it. Per-process cache only (each checker
    # lane runs in its own process under checker_sf1.sh).
    key = (sf_dir, n, num_hashes)
    if key in _SIG_CACHE:
        return _SIG_CACHE[key]
    import hashlib
    toks = _doc_tokens(con, sf_dir)
    sigs = {}
    for d, tk in toks.items():
        sh = [" ".join(tk[i:i + n]) for i in range(len(tk) - n + 1)] \
            if len(tk) >= n else []
        mins = [None] * num_hashes
        for s in sh:
            for seed in range(num_hashes // 2):
                dig = hashlib.md5(f"{seed}_{s}".encode()).hexdigest()
                lo, hi = dig[:16], dig[16:32]
                i = 2 * seed
                if mins[i] is None or lo < mins[i]:
                    mins[i] = lo
                if mins[i + 1] is None or hi < mins[i + 1]:
                    mins[i + 1] = hi
        sigs[d] = mins
    _SIG_CACHE[key] = (sigs, toks)
    return sigs, toks


def check_q25(con, sf_dir, spark_out):
    sigs, _ = _minhash_sigs(con, sf_dir)
    got = dump(spark_out, "q25_minhash_sig").set_index("doc_id")
    errs = []
    bad = 0
    for d, mins in sigs.items():
        row = got.loc[d]
        for i, m in enumerate(mins):
            g = row[f"sig{i}"]
            if (m is None) != (g is None or pd.isna(g)) or \
               (m is not None and g != m):
                bad += 1
    if bad:
        errs.append(f"{bad} signature cells differ from md5 minhash"
                    f" recompute")
    return errs


def check_q279_minhash_estimate(con, sf_dir, spark_out, band=2):
    """Signature-agreement recompute: the same hashlib minhash vectors,
    band-bucket candidate pairs, estimate = agreeing slots / num hashes."""
    sigs, _ = _minhash_sigs(con, sf_dir)
    buckets = {}
    for d, mins in sigs.items():
        if mins[0] is None:
            continue
        for b in range(len(mins) // band):
            buckets.setdefault((b, "".join(mins[b * band:(b + 1) * band])),
                               []).append(d)
    pairs = set()
    for ds in buckets.values():
        ds.sort()
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                pairs.add((ds[i], ds[j]))
    got = dump(spark_out, "q279_minhash_estimate") \
        .set_index(["doc_a", "doc_b"])
    errs = []
    if len(got) != len(pairs):
        errs.append(f"pair count {len(got)} != {len(pairs)}")
    bad = 0
    for a, b in pairs:
        nh = len(sigs[a])
        est = sum(1 for i in range(nh) if sigs[a][i] == sigs[b][i]) / nh
        if (a, b) not in got.index or \
           not close(float(got.loc[(a, b), "est_jaccard"]),
                     spark_round(est, 6), 1e-9):
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(pairs)} estimates differ")
    return errs[:5]


def check_q280_estimate_clusters(con, sf_dir, spark_out, band=2):
    """Union-find over signature-agreement (>= half the slots) edges —
    the estimate-screening cluster semantics, no shingle sets at all."""
    sigs, toks = _minhash_sigs(con, sf_dir)
    buckets = {}
    for d, mins in sigs.items():
        if mins[0] is None:
            continue
        for b in range(len(mins) // band):
            buckets.setdefault((b, "".join(mins[b * band:(b + 1) * band])),
                               []).append(d)
    pairs = set()
    for ds in buckets.values():
        ds.sort()
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                pairs.add((ds[i], ds[j]))
    edges = [(a, b) for a, b in pairs
             if sum(1 for i in range(len(sigs[a]))
                    if sigs[a][i] == sigs[b][i]) * 2 >= len(sigs[a])]
    labels = _cc_labels(set(toks), edges)
    got = dump(spark_out, "q280_estimate_clusters").set_index("doc_id")
    errs = []
    if len(got) != len(labels):
        errs.append(f"row count {len(got)} != {len(labels)}")
    bad = sum(1 for v, l in labels.items()
              if int(got.loc[v, "cluster"]) != l or
              bool(got.loc[v, "is_canonical"]) != (v == l))
    if bad:
        errs.append(f"{bad}/{len(labels)} cluster labels differ")
    return errs


def _estimate_dup_edges(con, sf_dir, band=2):
    """q280's edge set: band-candidate pairs whose signature agreement
    covers at least half the slots. Returns (edges, all_doc_ids)."""
    sigs, toks = _minhash_sigs(con, sf_dir)
    buckets = {}
    for d, mins in sigs.items():
        if mins[0] is None:
            continue
        for b in range(len(mins) // band):
            buckets.setdefault((b, "".join(mins[b * band:(b + 1) * band])),
                               []).append(d)
    pairs = set()
    for ds in buckets.values():
        ds.sort()
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                pairs.add((ds[i], ds[j]))
    edges = [(a, b) for a, b in pairs
             if sum(1 for i in range(len(sigs[a]))
                    if sigs[a][i] == sigs[b][i]) * 2 >= len(sigs[a])]
    return edges, set(toks)


def _star_dup_edges(con, sf_dir, tau=0.5, band=2, num_hubs=1):
    """q281/q285's edge set: per-band STAR candidates (the num_hubs
    smallest bucket ids -> each larger member) with rounded exact jaccard
    >= tau — never the C(m,2) bucket pairs."""
    sigs, toks = _minhash_sigs(con, sf_dir)
    buckets = {}
    for d, mins in sigs.items():
        if mins[0] is None:
            continue
        for b in range(len(mins) // band):
            buckets.setdefault((b, "".join(mins[b * band:(b + 1) * band])),
                               []).append(d)
    pairs = set()
    for ds in buckets.values():
        for hub in sorted(ds)[:num_hubs]:
            for d in ds:
                if d > hub:
                    pairs.add((hub, d))
    sets = {d: {" ".join(tk[i:i + 3]) for i in range(len(tk) - 2)}
            for d, tk in toks.items() if len(tk) >= 3}
    edges = []
    for a, b in pairs:
        if a not in sets or b not in sets:
            continue
        inter = len(sets[a] & sets[b])
        j = spark_round(inter / (len(sets[a]) + len(sets[b]) - inter), 6)
        if j >= tau:
            edges.append((a, b))
    return edges, set(toks)


def _star_rescue_dup_edges(con, sf_dir, tau=0.5, band=2, ids=None):
    """q286's edge set: star h=1 edges plus the detached-member RESCUE
    wave — a member whose own hub edge failed re-probes THAT bucket's
    non-hub members. The exactness theorem (Dedup.lshStarRescueCandidates)
    says CC over this equals CC over the pair-complete edges; check_q286
    asserts both the labels and the equality. The engine's size prefilter
    is deliberately NOT mirrored here (it is output-invariant; this
    recompute cross-validates that). `ids` restricts the construction to a
    sub-corpus (check_q288's per-part edges — signatures and band keys are
    per-document, so the restriction just drops bucket members)."""
    sigs, toks = _minhash_sigs(con, sf_dir)
    buckets = {}
    for d, mins in sigs.items():
        if mins[0] is None or (ids is not None and d not in ids):
            continue
        for b in range(len(mins) // band):
            buckets.setdefault((b, "".join(mins[b * band:(b + 1) * band])),
                               []).append(d)
    spairs = set()
    for ds in buckets.values():
        hub = min(ds)
        for d in ds:
            if d > hub:
                spairs.add((hub, d))
    sets = {d: {" ".join(tk[i:i + 3]) for i in range(len(tk) - 2)}
            for d, tk in toks.items() if len(tk) >= 3}

    def jac(a, b):
        inter = len(sets[a] & sets[b])
        return spark_round(inter / (len(sets[a]) + len(sets[b]) - inter), 6)

    edges = []
    failed = set()            # failed star pairs (hub, member)
    for a, b in spairs:
        if a not in sets or b not in sets:
            continue
        if jac(a, b) >= tau:
            edges.append((a, b))
        else:
            failed.add((a, b))
    rpairs = set()
    for ds in buckets.values():
        hub = min(ds)
        for f in ds:
            if f != hub and (hub, f) in failed:   # failed IN THIS bucket
                for x in ds:
                    if x != f and x != hub:
                        rpairs.add((min(f, x), max(f, x)))
    for a, b in rpairs:
        if a in sets and b in sets and jac(a, b) >= tau:
            edges.append((a, b))
    return edges, set(toks)


def check_q286_star_rescue_clusters(con, sf_dir, spark_out):
    """Union-find over the star+rescue edges, plus the EXACTNESS
    invariant: labels must equal the pair-complete (q70-construction)
    union-find labels — not merely refine them."""
    edges, all_ids = _star_rescue_dup_edges(con, sf_dir)
    labels = _cc_labels(all_ids, edges)
    got = dump(spark_out, "q286_star_rescue_clusters").set_index("doc_id")
    errs = []
    if len(got) != len(labels):
        errs.append(f"row count {len(got)} != {len(labels)}")
    bad = sum(1 for v, l in labels.items()
              if int(got.loc[v, "cluster"]) != l or
              bool(got.loc[v, "is_canonical"]) != (v == l))
    if bad:
        errs.append(f"{bad}/{len(labels)} star+rescue labels differ from"
                    f" union-find")
    full_edges, _ = _lsh_dup_edges(con, sf_dir)
    full = _cc_labels(all_ids, full_edges)
    ndiff = sum(1 for v, l in labels.items() if full[v] != l)
    if ndiff:
        errs.append(f"exactness violated: {ndiff} labels differ from the"
                    f" pair-complete union-find")
    return errs[:5]


def _cross_band_pairs(sigs, inc_ids, band=2):
    """Every (incoming, base) doc pair sharing at least one LSH band key of
    the md5 minhash mirror — the pair-complete probe across an incremental
    cut. Docs without a signature (fewer than 3 tokens) have no bands."""
    buckets = {}
    for d, mins in sigs.items():
        if mins[0] is None:
            continue
        for b in range(len(mins) // band):
            buckets.setdefault((b, "".join(mins[b * band:(b + 1) * band])),
                               []).append(d)
    pairs = set()
    for ds in buckets.values():
        incs = [d for d in ds if d in inc_ids]
        bases = [d for d in ds if d not in inc_ids]
        for a in incs:
            for b in bases:
                pairs.add((a, b))
    return pairs


def _shingle_jaccard(toks, n=3):
    """Exact 3-shingle-set Jaccard, rounded like the engine (6 places);
    None when either doc has no shingles."""
    sets = {d: {" ".join(tk[i:i + n]) for i in range(len(tk) - n + 1)}
            for d, tk in toks.items() if len(tk) >= n}

    def jac(a, b):
        if a not in sets or b not in sets:
            return None
        inter = len(sets[a] & sets[b])
        return spark_round(inter / (len(sets[a]) + len(sets[b]) - inter), 6)
    return jac


def check_q263_incremental_dedup(con, sf_dir, spark_out):
    """Incremental ingestion screen from first principles: the incoming
    docs (doc_id % 10 == 9) probe the base docs' bands; every collision
    across the cut is scored by exact shingle Jaccard; per incoming doc
    n_cands = colliding base docs, best_jaccard = their max (null with no
    candidate), is_new iff best < 0.5 or null."""
    sigs, toks = _minhash_sigs(con, sf_dir)
    inc_ids = {d for d in toks if d % 10 == 9}
    jac = _shingle_jaccard(toks)
    scores = {}
    for a, b in _cross_band_pairs(sigs, inc_ids):
        scores.setdefault(a, []).append(jac(a, b))
    got = dump(spark_out, "q263_incremental_dedup").set_index("doc_id")
    errs = []
    if len(got) != len(inc_ids) or set(got.index) != inc_ids:
        errs.append(f"rows {len(got)} != incoming docs {len(inc_ids)}")
        return errs
    bad = 0
    for d in inc_ids:
        js = scores.get(d, [])
        best = max(js) if js else None
        g = got.loc[d]
        gbest = None if pd.isna(g["best_jaccard"]) else float(g["best_jaccard"])
        if int(g["n_cands"]) != len(js) or \
           (best is None) != (gbest is None) or \
           (best is not None and not close(gbest, best, 1e-9)) or \
           bool(g["is_new"]) != (best is None or best < 0.5):
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(inc_ids)} incoming docs differ from the"
                    f" band-probe + exact-jaccard recompute")
    return errs


def check_q288_incremental_clusters(con, sf_dir, spark_out):
    """Recompute of the INCREMENTAL construction itself (base star+rescue
    labels, batch star+rescue edges, pair-complete cross band probe,
    touched-cluster label-star merge), plus the delta-posture theorem
    invariant: the result must equal the full-union pair-complete
    union-find — the same exactness contract as check_q286, extended
    across the base/batch cut."""
    sigs, toks = _minhash_sigs(con, sf_dir)
    all_ids = set(toks)
    inc_ids = {d for d in all_ids if d % 10 == 9}
    base_ids = all_ids - inc_ids
    base_edges, _ = _star_rescue_dup_edges(con, sf_dir, ids=base_ids)
    base_lab = _cc_labels(base_ids, base_edges)
    inc_edges, _ = _star_rescue_dup_edges(con, sf_dir, ids=inc_ids)
    # cross edges: EVERY band collision across the cut, exact jaccard >= tau
    jac = _shingle_jaccard(toks)
    cross = [(a, b) for a, b in _cross_band_pairs(sigs, inc_ids)
             if (j := jac(a, b)) is not None and j >= 0.5]
    touched = {base_lab[b] for _, b in cross}
    touched_members = {v for v in base_ids if base_lab[v] in touched}
    label_stars = [(base_lab[v], v) for v in touched_members
                   if base_lab[v] != v]
    merge_ids = inc_ids | touched_members
    merged = _cc_labels(merge_ids, inc_edges + cross + label_stars)
    labels = {v: (merged[v] if v in merge_ids else base_lab[v])
              for v in all_ids}
    got = dump(spark_out, "q288_incremental_clusters").set_index("doc_id")
    errs = []
    if len(got) != len(labels):
        errs.append(f"row count {len(got)} != {len(labels)}")
    bad = sum(1 for v, l in labels.items()
              if int(got.loc[v, "cluster"]) != l or
              bool(got.loc[v, "is_canonical"]) != (v == l) or
              bool(got.loc[v, "is_incoming"]) != (v % 10 == 9))
    if bad:
        errs.append(f"{bad}/{len(labels)} incremental labels differ from"
                    f" the incremental union-find recompute")
    full_edges, _ = _lsh_dup_edges(con, sf_dir)
    full = _cc_labels(all_ids, full_edges)
    ndiff = sum(1 for v, l in labels.items() if full[v] != l)
    if ndiff:
        errs.append(f"delta-posture theorem violated: {ndiff} labels"
                    f" differ from the full-union pair-complete union-find")
    return errs[:5]


def check_q281_star_clusters(con, sf_dir, spark_out):
    """Union-find over the star-candidate exact-jaccard edges, plus the
    refinement invariant: every star cluster must sit inside one
    pair-complete (q70) cluster — the declared deviation contract is
    split-only."""
    edges, all_ids = _star_dup_edges(con, sf_dir)
    labels = _cc_labels(all_ids, edges)
    got = dump(spark_out, "q281_star_dedup_clusters").set_index("doc_id")
    errs = []
    bad = sum(1 for v, l in labels.items()
              if int(got.loc[v, "cluster"]) != l or
              bool(got.loc[v, "is_canonical"]) != (v == l))
    if bad:
        errs.append(f"{bad}/{len(labels)} star cluster labels differ from"
                    f" union-find")
    if len(got) != len(labels):
        errs.append(f"row count {len(got)} != {len(labels)}")
    full_edges, _ = _lsh_dup_edges(con, sf_dir)
    full = _cc_labels(all_ids, full_edges)
    star_to_full = {}
    for v, l in labels.items():
        prev = star_to_full.setdefault(l, full[v])
        if prev != full[v]:
            errs.append(f"star cluster {l} straddles q70 clusters "
                        f"{prev} and {full[v]} — refinement violated")
            break
    return errs[:5]


def check_q285_star2_clusters(con, sf_dir, spark_out):
    """h=2 star union-find + the refinement ORDER: q281 refines q285
    refines q70 (more hubs only add edges)."""
    edges2, all_ids = _star_dup_edges(con, sf_dir, num_hubs=2)
    labels2 = _cc_labels(all_ids, edges2)
    got = dump(spark_out, "q285_star2_dedup_clusters").set_index("doc_id")
    errs = []
    bad = sum(1 for v, l in labels2.items()
              if int(got.loc[v, "cluster"]) != l or
              bool(got.loc[v, "is_canonical"]) != (v == l))
    if bad:
        errs.append(f"{bad}/{len(labels2)} h=2 star labels differ")
    if len(got) != len(labels2):
        errs.append(f"row count {len(got)} != {len(labels2)}")
    edges1, _ = _star_dup_edges(con, sf_dir, num_hubs=1)
    labels1 = _cc_labels(all_ids, edges1)
    full_edges, _ = _lsh_dup_edges(con, sf_dir)
    full = _cc_labels(all_ids, full_edges)
    for fine, coarse, name in ((labels1, labels2, "q281 within q285"),
                               (labels2, full, "q285 within q70")):
        seen = {}
        for v, l in fine.items():
            prev = seen.setdefault(l, coarse[v])
            if prev != coarse[v]:
                errs.append(f"refinement order violated: {name}")
                break
    return errs[:5]


def check_q282_estimate_savings(con, sf_dir, spark_out):
    """q273's ledger arithmetic re-based on the estimate-edge union-find
    labels (no shingle sets anywhere in the edge build)."""
    edges, all_ids = _estimate_dup_edges(con, sf_dir)
    labels = _cc_labels(all_ids, edges)
    toks = _doc_tokens(con, sf_dir)
    per = {}
    for d, l in labels.items():
        m, ts, kept = per.get(l, (0, 0, 0))
        ntk = len(toks[d])
        per[l] = (m + 1, ts + ntk, kept + (ntk if d == l else 0))
    agg = {}
    for m, ts, kept in per.values():
        b = "1" if m == 1 else ("2" if m == 2 else (
            "3-4" if m <= 4 else ("5-8" if m <= 8 else "9+")))
        c = agg.setdefault(b, [0, 0, 0, 0])
        c[0] += 1
        c[1] += m
        c[2] += ts
        c[3] += ts - kept
    got = dump(spark_out, "q282_estimate_savings").set_index("size_bucket")
    errs = []
    if len(got) != len(agg):
        errs.append(f"bucket count {len(got)} != {len(agg)}")
    for b, c in agg.items():
        g = got.loc[b]
        if (int(g["n_clusters"]), int(g["n_docs"]), int(g["tokens_total"]),
                int(g["tokens_saved"])) != tuple(c):
            errs.append(f"{b}: counts differ")
        if float(g["saved_frac"]) != half_up_ratio(c[3] * 10000, c[2], 4):
            errs.append(f"{b}: saved_frac differs")
    return errs[:5]


def check_q283_estimate_data_card(con, sf_dir, spark_out):
    """q270's card arithmetic with the dup column fed by the estimate-edge
    union-find labels."""
    edges, all_ids = _estimate_dup_edges(con, sf_dir)
    labels = _cc_labels(all_ids, edges)
    docs = load(con, sf_dir, "documents", "doc_id, source, lang, text")
    agg = {}
    for _, r in docs.iterrows():
        d = int(r["doc_id"])
        cell = agg.setdefault(r["source"], {}).setdefault(r["lang"], [0, 0, 0])
        cell[0] += 1
        cell[1] += len(tokenize(r["text"]))
        cell[2] += 0 if labels[d] == d else 1
    got = dump(spark_out, "q283_estimate_data_card").set_index("source")
    errs = []
    if len(got) != len(agg):
        errs.append(f"source count {len(got)} != {len(agg)}")
    for src, langs in agg.items():
        n = sum(v[0] for v in langs.values())
        tk = sum(v[1] for v in langs.values())
        dup = sum(v[2] for v in langs.values())
        ent = math.log(n) - sum(v[0] * math.log(v[0])
                                for v in langs.values()) / n
        g = got.loc[src]
        if (int(g["n_docs"]), int(g["n_tokens"]), int(g["n_langs"]),
                int(g["n_dup_docs"])) != (n, tk, len(langs), dup):
            errs.append(f"{src}: counts differ")
        if float(g["dup_rate"]) != half_up_ratio(dup * 10000, n, 4) or \
           float(g["avg_tokens"]) != half_up_ratio(tk * 10000, n, 4):
            errs.append(f"{src}: ratios differ")
        if not close(g["lang_entropy"], ent, 5.1e-7):
            errs.append(f"{src}: entropy {g['lang_entropy']} != {ent}")
    return errs[:5]


def check_q26(con, sf_dir, spark_out, band=2):
    sigs, toks = _minhash_sigs(con, sf_dir)
    buckets = {}
    for d, mins in sigs.items():
        if mins[0] is None:
            continue
        for b in range(len(mins) // band):
            key = (b, "".join(mins[b * band:(b + 1) * band]))
            buckets.setdefault(key, []).append(d)
    pairs = set()
    for ds in buckets.values():
        ds.sort()
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                pairs.add((ds[i], ds[j]))
    sets = {d: {" ".join(tk[i:i + 3]) for i in range(len(tk) - 2)}
            for d, tk in toks.items() if len(tk) >= 3}
    got = dump(spark_out, "q26_lsh_pairs").set_index(["doc_a", "doc_b"])
    errs = []
    exp = {}
    for a, b in pairs:
        if a not in sets or b not in sets:
            continue   # empty-shingle docs drop at the sizes join
        inter = len(sets[a] & sets[b])
        exp[(a, b)] = inter / (len(sets[a]) + len(sets[b]) - inter)
    if len(got) != len(exp):
        errs.append(f"pair count {len(got)} != {len(exp)}")
    for (a, b), j in exp.items():
        if (a, b) not in got.index:
            errs.append(f"pair ({a},{b}) missing")
        elif not close(got.loc[(a, b), "jaccard"], j, 6e-7):
            errs.append(f"({a},{b}): jaccard mismatch")
    return errs


def _tfidf_kw8(con, sf_dir):
    """docKeywords: per-doc top-8 TF-IDF keywords (round6), rank order."""
    toks = _doc_tokens(con, sf_dir)
    n_docs = len(toks)
    tf = {d: {} for d in toks}
    for d, tk in toks.items():
        for w in tk:
            tf[d][w] = tf[d].get(w, 0) + 1
    dfreq = {}
    for d in tf:
        for w in tf[d]:
            dfreq[w] = dfreq.get(w, 0) + 1
    out = {}
    for d in tf:
        scored = sorted(
            ((w, spark_round(k * math.log(n_docs / dfreq[w]), 6))
             for w, k in tf[d].items()), key=lambda t: (-t[1], t[0]))[:8]
        out[d] = scored
    return out


def check_q37(con, sf_dir, spark_out):
    """F6 compute: sum(min^2)/sum(max^2) over the union of keyword maps
    (distinct words per list, so insertion order is immaterial)."""
    kw = _tfidf_kw8(con, sf_dir)
    got = dump(spark_out, "q37_sim_weighted").set_index(["doc_a", "doc_b"])
    errs = []
    for a in sorted(kw):
        b = a + 1
        if b not in kw:
            continue
        ka, kb = dict(kw[a]), dict(kw[b])
        num = sum(min(ka[w], kb[w]) ** 2 for w in ka if w in kb)
        den = sum(max(ka.get(w, float("-inf")), kb.get(w, float("-inf"))) ** 2
                  for w in set(ka) | set(kb))
        sim = num / den
        if not close(got.loc[(a, b), "sim"], sim, 6e-7):
            errs.append(f"({a},{b}): sim {got.loc[(a, b), 'sim']}"
                        f" vs {sim:.9f}")
    return errs


def _rank_distance(k1, k2):
    """F9 — the reference's rank-encoded squared distance, exactly."""
    l1, l2 = len(k1), len(k2)
    map2 = {}
    multiple = l1 * l2
    for s2 in k2:
        map2[s2] = multiple
        multiple -= l1
    multiple = l1 * l2
    dist = 0
    for s1 in k1:
        if s1 in map2:
            temp = multiple - map2[s1]
            map2[s1] = 0
        else:
            temp = multiple
        dist += temp * temp
        multiple -= l2
    for v in map2.values():
        dist += v * v
    return dist


def _rank_distance_max(l1, l2):
    v = 0
    m = l1 * l2
    while m > 0:
        v += m * m
        m -= l1
    m = l1 * l2
    while m > 0:
        v += m * m
        m -= l2
    return v


def _rank_match_score(k1, k2):
    l1, l2 = len(k1), len(k2)
    dist = 0
    m1 = l1 * l2
    for key1 in k1:
        m2 = l1 * l2
        for key2 in k2:
            if key1 == key2:
                dist += m1 * m2
            m2 -= l1
        m1 -= l2
    return dist


def check_q38(con, sf_dir, spark_out):
    kw = _tfidf_kw8(con, sf_dir)
    words = {d: [w for w, _ in lst] for d, lst in kw.items()}
    got = dump(spark_out, "q38_rank_sim").set_index(["doc_a", "doc_b"])
    errs = []
    for a in sorted(words):
        b = a + 1
        if b not in words:
            continue
        wa, wb = words[a], words[b]
        common = len(set(wa) & set(wb))
        f7 = common / (len(wa) * len(wb))
        row = got.loc[(a, b)]
        if not close(row["f7_boolean"], f7, 6e-7) or \
           int(row["f9_rank_distance"]) != _rank_distance(wa, wb) or \
           int(row["f12_max"]) != _rank_distance_max(len(wa), len(wb)) or \
           int(row["f10_match_score"]) != _rank_match_score(wa, wb):
            errs.append(f"({a},{b}): rank-sim mismatch")
    return errs


def check_q222(con, sf_dir, spark_out):
    kw = _tfidf_kw8(con, sf_dir)
    words = {d: [w for w, _ in lst] for d, lst in kw.items()}
    got = dump(spark_out, "q222_tuple_rank_sim").set_index(["doc_a", "doc_b"])
    errs = []
    for a in sorted(words):
        b = a + 1
        if b not in words:
            continue
        if int(got.loc[(a, b), "f11_rank_distance"]) != \
           _rank_distance(words[a], words[b]):
            errs.append(f"({a},{b}): f11 mismatch")
    return errs


def _textrank_recs(con, sf_dir):
    """E2 end-to-end: per-doc TextRank news keywords (k=5), clique-graph
    user profiles (k=8), dot scoring round6, per (day,user) top-5 lists."""
    toks = _doc_tokens(con, sf_dir)
    window = 5
    news_kw = {}
    for d, tk in toks.items():
        words = {}
        for i, tok in enumerate(tk):
            s = words.setdefault(tok, set())
            left = max(0, i - window)
            right = i + window
            if right >= len(tk):
                right = 0
            c = left
            while c <= right and c != i:
                s.add(tk[c])
                c += 1
        news_kw[d] = _textrank_vote(words, 5)
    news_date = {d: pd.Timestamp("2024-01-01") + pd.Timedelta(days=d % 30)
                 for d in toks}
    ck = clicks(con, sf_dir)
    ckd = ck.copy()
    ckd["date"] = pd.to_datetime(ckd["date"])
    user_kw = {}
    for u, g in ck.groupby("userId"):
        words = {}
        for nid in set(g["newsId"].astype(int)):
            if nid not in toks:
                continue
            keys = set(toks[nid])
            for k in keys:
                words.setdefault(k, set()).update(keys - {k})
        if words:
            user_kw[int(u)] = _textrank_vote(words, 8)
    act = ckd[(ckd["date"] >= FROM_DATE) & (ckd["date"] <= TO_DATE)]
    active_by_day = {pd.Timestamp(day): {int(u) for u in g["userId"]}
                     for day, g in act.groupby("date")}
    all_active = set().union(*active_by_day.values())
    in_range = {d for d, dt in news_date.items()
                if FROM_DATE <= dt <= TO_DATE + pd.Timedelta(days=NUM_DAYS)}
    inv = {}
    for d in in_range:
        for w, v in news_kw[d]:
            inv.setdefault(w, []).append((d, v))
    per_day_user = {}
    for u in all_active:
        prof = user_kw.get(u)
        if not prof:
            continue
        acc = {}
        for w, uv in prof:
            for d, nv in inv.get(w, ()):
                acc[d] = acc.get(d, 0.0) + uv * nv
        for d, sc in acc.items():
            sc = spark_round(sc, 6)
            if sc <= 0:
                continue
            dt = news_date[d]
            lo = max(dt - pd.Timedelta(days=NUM_DAYS), FROM_DATE)
            hi = min(dt, TO_DATE)
            day = lo
            while day <= hi:
                if u in active_by_day.get(day, ()):
                    per_day_user.setdefault((day, u), []).append((sc, d))
                day += pd.Timedelta(days=1)
    lists = {}
    for (day, u), lst in per_day_user.items():
        top = sorted(lst, key=lambda t: (-t[0], t[1]))[:5]
        lists[(day, u)] = [d for _, d in top]
    return lists, ckd


def check_q40(con, sf_dir, spark_out):
    lists, _ = _textrank_recs(con, sf_dir)
    got = dump(spark_out, "q40_textrank_rec")
    got["date"] = pd.to_datetime(got["date"])
    got = got.set_index(["userId", "date"])
    errs = []
    if len(got) != len(lists):
        errs.append(f"row count {len(got)} != {len(lists)}")
    bad = 0
    for (day, u), ids in lists.items():
        exp = ",".join(str(i) for i in ids)
        if (u, day) not in got.index or got.loc[(u, day), "news"] != exp:
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(lists)} textrank rec lists differ")
    return errs


def check_q117(con, sf_dir, spark_out):
    lists, ckd = _textrank_recs(con, sf_dir)
    got = dump(spark_out, "q117_precision_textrank")
    got["date"] = pd.to_datetime(got["date"])
    return _precision_errs(lists, ckd, got.set_index("date"))


def _bpe_train(con, sf_dir, k=6):
    """Reference BPE: overlapping pair counts, argmax (weight desc, pair
    asc), leftmost-non-overlapping merge; early-stop when no pairs left."""
    toks = _doc_tokens(con, sf_dir)
    freq = {}
    for tk in toks.values():
        for w in tk:
            freq[w] = freq.get(w, 0) + 1
    reprs = {w: list(w) + ["</w>"] for w in freq}
    merges = []
    for r in range(1, k + 1):
        pc = {}
        for w, syms in reprs.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + freq[w]
        if not pc:
            break
        (a, b), wgt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((r, a, b, wgt))
        for w, syms in reprs.items():
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            reprs[w] = out
    return merges, reprs, freq, toks


def check_q247(con, sf_dir, spark_out):
    merges, _, _, _ = _bpe_train(con, sf_dir)
    got = dump(spark_out, "q247_bpe_merges").sort_values("round")
    errs = []
    if len(got) != len(merges):
        errs.append(f"merge count {len(got)} != {len(merges)}")
    for (r, a, b, wgt), (_, row) in zip(merges, got.iterrows()):
        if (int(row["round"]), row["left_sym"], row["right_sym"],
                row["merged"], int(row["weight"])) != (r, a, b, a + b, wgt):
            errs.append(f"round {r}: ({row['left_sym']},{row['right_sym']},"
                        f"{row['weight']}) != ({a},{b},{wgt})")
    return errs


def check_q248(con, sf_dir, spark_out):
    _, reprs, freq, _ = _bpe_train(con, sf_dir)
    counts = {}
    for w, syms in reprs.items():
        for s in syms:
            counts[s] = counts.get(s, 0) + freq[w]
    got = dump(spark_out, "q248_bpe_vocab").set_index("token")
    errs = []
    if len(got) != len(counts):
        errs.append(f"token count {len(got)} != {len(counts)}")
    for t, n in counts.items():
        if t not in got.index or int(got.loc[t, "n"]) != n:
            errs.append(f"token '{t}': count mismatch")
    return errs


def check_q249(con, sf_dir, spark_out):
    _, reprs, _, _ = _bpe_train(con, sf_dir)
    docs = load(con, sf_dir, "documents", "lang, text")
    lang_words = {}
    for _, r in docs.iterrows():
        for w in tokenize(r["text"]):
            key = (r["lang"], w)
            lang_words[key] = lang_words.get(key, 0) + 1
    per_lang = {}
    for (lang, w), lf in lang_words.items():
        t, n = per_lang.get(lang, (0, 0))
        per_lang[lang] = (t + lf * len(reprs[w]), n + lf)
    got = dump(spark_out, "q249_bpe_fertility").set_index("lang")
    errs = []
    for lang, (t, n) in per_lang.items():
        row = got.loc[lang]
        fert = half_up_ratio(t * 1000000, n, 6)
        if int(row["n_tokens"]) != t or int(row["n_words"]) != n or \
           not close(row["fertility"], fert, 1e-9):
            errs.append(f"{lang}: ({row['n_tokens']},{row['n_words']},"
                        f"{row['fertility']}) != ({t},{n},{fert})")
    return errs


def _emb(con, sf_dir):
    emb = load(con, sf_dir, "embeddings", "vec_id, embedding")
    return {int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
            for _, r in emb.iterrows()}


def _lsh_coefs(num_planes=8, dim=64):
    import hashlib
    return [[1.0 if hashlib.md5(f"{j}_{i}".encode()).digest()[0] >> 4 <= 7
             else -1.0 for i in range(dim)] for j in range(num_planes)]


def _lsh_bucket(x, coefs):
    out = []
    for row in coefs:
        # same left-to-right accumulation as the ordered fold
        acc = 0.0
        for xi, c in zip(x, row):
            acc += xi * c
        out.append("1" if acc >= 0 else "0")
    return "".join(out)


def check_q29_norm(con, sf_dir, spark_out):
    X = _emb(con, sf_dir)
    got = dump(spark_out, "q29_embed_norm").set_index("vec_id")
    errs = []
    bad = sum(1 for v, x in X.items()
              if not close(got.loc[v, "l2_norm"],
                           math.sqrt(float((x * x).sum())), 6e-7))
    if bad:
        errs.append(f"{bad}/{len(X)} norms differ")
    return errs


def check_q31_lsh(con, sf_dir, spark_out):
    X = _emb(con, sf_dir)
    coefs = _lsh_coefs()
    got = dump(spark_out, "q31_lsh_buckets").set_index("vec_id")
    errs = []
    bad = sum(1 for v, x in X.items()
              if got.loc[v, "bucket"] != _lsh_bucket(x, coefs))
    if bad:
        errs.append(f"{bad}/{len(X)} buckets differ from signed md5"
                    f" hyperplane projections")
    return errs


def _cos(X, a, b):
    na = math.sqrt(float((X[a] * X[a]).sum()))
    nb = math.sqrt(float((X[b] * X[b]).sum()))
    return spark_round(float(X[a] @ X[b]) / (na * nb), 6)


def check_q32_lsh_pairs(con, sf_dir, spark_out):
    X = _emb(con, sf_dir)
    coefs = _lsh_coefs()
    buckets = {}
    for v, x in X.items():
        buckets.setdefault(_lsh_bucket(x, coefs), []).append(v)
    exp = {}
    for bk, vs in buckets.items():
        vs.sort()
        for i in range(len(vs)):
            for j in range(i + 1, len(vs)):
                exp[(bk, vs[i], vs[j])] = _cos(X, vs[i], vs[j])
    got = dump(spark_out, "q32_lsh_ann_pairs")
    errs = []
    if len(got) != len(exp):
        errs.append(f"pair count {len(got)} != {len(exp)}")
    for _, row in got.iterrows():
        key = (row["bucket"], int(row["a_id"]), int(row["b_id"]))
        if key not in exp:
            errs.append(f"unexpected pair {key}")
        elif not close(row["cosine"], exp[key], 1e-9):
            errs.append(f"{key}: cosine mismatch")
    return errs


def check_q43_neardup(con, sf_dir, spark_out):
    X = _emb(con, sf_dir)
    coefs = _lsh_coefs()
    buckets = {}
    for v, x in X.items():
        buckets.setdefault(_lsh_bucket(x, coefs), []).append(v)
    exp = {}
    for vs in buckets.values():
        vs.sort()
        for i in range(len(vs)):
            for j in range(i + 1, len(vs)):
                c = _cos(X, vs[i], vs[j])
                if c >= 0.3:
                    exp[(vs[i], vs[j])] = c
    got = dump(spark_out, "q43_embed_neardup").set_index(["a_id", "b_id"])
    errs = []
    if len(got) != len(exp):
        errs.append(f"pair count {len(got)} != {len(exp)}")
    for k, c in exp.items():
        if k not in got.index:
            errs.append(f"pair {k} missing")
        elif not close(got.loc[k, "cosine"], c, 1e-9):
            errs.append(f"{k}: cosine mismatch")
    return errs


def _ivf_assign(X, cent_ids, cents=None):
    """(vec -> (cell, dist2)): nearest seed centroid, round6 d2, tie c asc.
    `cents` supplies centroid vectors when X itself is a filtered subset."""
    cents = cents if cents is not None else X
    out = {}
    for v, x in X.items():
        best = min(((spark_round(float(((x - cents[c]) ** 2).sum()), 6), c)
                    for c in cent_ids), key=lambda t: t)
        out[v] = (best[1], best[0])
    return out


def check_q44_ivf(con, sf_dir, spark_out):
    X = _emb(con, sf_dir)
    assign = _ivf_assign(X, range(8))
    got = dump(spark_out, "q44_ivf_cells").set_index("vec_id")
    errs = []
    bad = sum(1 for v, (cell, d2) in assign.items()
              if int(got.loc[v, "cell"]) != cell or
              not close(got.loc[v, "dist2"], d2, 1e-9))
    if bad:
        errs.append(f"{bad}/{len(X)} cell assignments differ")
    return errs


def check_q45_ivf_topk(con, sf_dir, spark_out, nprobe=2, k=3):
    X = _emb(con, sf_dir)
    cents = list(range(8))
    cand_cells = _ivf_assign({v: X[v] for v in X if v >= 18}, cents, X)
    by_cell = {}
    for v, (cell, _) in cand_cells.items():
        by_cell.setdefault(cell, []).append(v)
    got = dump(spark_out, "q45_ivf_topk").set_index(["q_id", "rn"])
    errs = []
    n = 0
    for q in range(8, 18):
        probes = sorted(
            ((spark_round(float(((X[q] - X[c]) ** 2).sum()), 6), c)
             for c in cents), key=lambda t: t)[:nprobe]
        cand = [v for _, c in probes for v in by_cell.get(c, [])]
        scored = sorted(((_cos(X, q, v) if q < v else _cos(X, v, q), v)
                         for v in cand), key=lambda t: (-t[0], t[1]))[:k]
        for rn, (cos, v) in enumerate(scored, 1):
            n += 1
            row = got.loc[(q, rn)]
            if int(row["c_id"]) != v or not close(row["cosine"], cos, 1e-9):
                errs.append(f"q {q} rn {rn}: ({row['c_id']},{row['cosine']})"
                            f" != ({v},{cos})")
    if len(got) != n:
        errs.append(f"row count {len(got)} != {n}")
    return errs


def _pq_codebooks(X, num_sub=8, dim=64):
    sub = dim // num_sub
    return {(m, k): X[k][m * sub:(m + 1) * sub]
            for m in range(num_sub) for k in range(16)}


def _pq_encode(X, cb, num_sub=8, dim=64):
    sub = dim // num_sub
    codes = {}
    for v, x in X.items():
        for m in range(num_sub):
            sv = x[m * sub:(m + 1) * sub]
            best = min(((spark_round(float(((sv - cb[(m, k)]) ** 2).sum()), 6), k)
                        for k in range(16)), key=lambda t: t)
            codes[(v, m)] = (best[1], best[0])
    return codes


def check_q67_pq(con, sf_dir, spark_out):
    X = _emb(con, sf_dir)
    cb = _pq_codebooks(X)
    codes = _pq_encode(X, cb)
    got = dump(spark_out, "q67_pq_codes").set_index(["vec_id", "m"])
    errs = []
    bad = sum(1 for (v, m), (code, d2) in codes.items()
              if int(got.loc[(v, m), "code"]) != code or
              not close(got.loc[(v, m), "dist2"], d2, 1e-9))
    if bad:
        errs.append(f"{bad}/{len(codes)} PQ codes differ")
    if len(got) != len(codes):
        errs.append(f"row count {len(got)} != {len(codes)}")
    return errs


def check_q68_pq_topk(con, sf_dir, spark_out, num_sub=8, dim=64, k=3):
    X = _emb(con, sf_dir)
    cb = _pq_codebooks(X)
    cand = {v: x for v, x in X.items() if v >= 26}
    codes = _pq_encode(cand, cb)
    sub = dim // num_sub
    got = dump(spark_out, "q68_pq_topk").set_index(["q_id", "rn"])
    errs = []
    n = 0
    for q in range(16, 26):
        lut = {(m, kk): spark_round(
            float(((X[q][m * sub:(m + 1) * sub] - cb[(m, kk)]) ** 2).sum()), 6)
            for m in range(num_sub) for kk in range(16)}
        adist = {}
        for v in cand:
            s = sum(lut[(m, codes[(v, m)][0])] for m in range(num_sub))
            adist[v] = spark_round(s, 6)
        top = sorted(adist.items(), key=lambda t: (t[1], t[0]))[:k]
        for rn, (v, ad) in enumerate(top, 1):
            n += 1
            row = got.loc[(q, rn)]
            if int(row["c_id"]) != v or not close(row["adist"], ad, 1e-9):
                errs.append(f"q {q} rn {rn}: ({row['c_id']},{row['adist']})"
                            f" != ({v},{ad})")
    if len(got) != n:
        errs.append(f"row count {len(got)} != {n}")
    return errs


def check_q198_ivfpq(con, sf_dir, spark_out, num_sub=8, dim=64,
                     nprobe=2, k=3):
    X = _emb(con, sf_dir)
    cents = list(range(8))
    sub = dim // num_sub
    cb = {(m, kk): X[kk][m * sub:(m + 1) * sub]
          for m in range(num_sub) for kk in range(8, 24)}
    cand_ids = [v for v in X if v >= 34]
    cand_cells = _ivf_assign({v: X[v] for v in cand_ids}, cents, X)
    by_cell = {}
    for v, (cell, _) in cand_cells.items():
        by_cell.setdefault(cell, []).append(v)
    codes = {}
    for v in cand_ids:
        for m in range(num_sub):
            sv = X[v][m * sub:(m + 1) * sub]
            best = min(
                ((spark_round(float(((sv - cb[(m, kk)]) ** 2).sum()), 6), kk)
                 for kk in range(8, 24)), key=lambda t: t)
            codes[(v, m)] = best[1]
    got = dump(spark_out, "q198_ivfpq").set_index(["q_id", "rn"])
    errs = []
    n = 0
    for q in range(24, 34):
        probes = sorted(
            ((spark_round(float(((X[q] - X[c]) ** 2).sum()), 6), c)
             for c in cents), key=lambda t: t)[:nprobe]
        cand = [v for _, c in probes for v in by_cell.get(c, [])]
        lut = {(m, kk): spark_round(
            float(((X[q][m * sub:(m + 1) * sub] - cb[(m, kk)]) ** 2).sum()), 6)
            for m in range(num_sub) for kk in range(8, 24)}
        adist = {v: spark_round(
            sum(lut[(m, codes[(v, m)])] for m in range(num_sub)), 6)
            for v in cand}
        top = sorted(adist.items(), key=lambda t: (t[1], t[0]))[:k]
        for rn, (v, ad) in enumerate(top, 1):
            n += 1
            row = got.loc[(q, rn)]
            if int(row["c_id"]) != v or not close(row["adist"], ad, 1e-9):
                errs.append(f"q {q} rn {rn}: ({row['c_id']},{row['adist']})"
                            f" != ({v},{ad})")
    if len(got) != n:
        errs.append(f"row count {len(got)} != {n}")
    return errs


def check_q214_filtered(con, sf_dir, spark_out, k=3):
    emb = load(con, sf_dir, "embeddings", "vec_id, label, embedding")
    X = {int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
         for _, r in emb.iterrows()}
    lab = {int(r["vec_id"]): r["label"] for _, r in emb.iterrows()}
    by_label = {}
    for v in X:
        if v >= 30:
            by_label.setdefault(lab[v], []).append(v)
    got = dump(spark_out, "q214_filtered_ann").set_index(["q_id", "rn"])
    errs = []
    n = 0
    for q in X:
        if q >= 30:
            continue
        cand = by_label.get(lab[q], [])
        scored = sorted(((_cos(X, q, v), v) for v in cand),
                        key=lambda t: (-t[0], t[1]))[:k]
        for rn, (cos, v) in enumerate(scored, 1):
            n += 1
            row = got.loc[(q, rn)]
            if int(row["c_id"]) != v or row["label"] != lab[q] or \
               not close(row["cosine"], cos, 1e-9):
                errs.append(f"q {q} rn {rn}: mismatch")
    if len(got) != n:
        errs.append(f"row count {len(got)} != {n}")
    return errs


def check_q242_hardneg(con, sf_dir, spark_out, k=3):
    emb = load(con, sf_dir, "embeddings", "vec_id, label, embedding")
    X = {int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
         for _, r in emb.iterrows()}
    lab = {int(r["vec_id"]): r["label"] for _, r in emb.iterrows()}
    got = dump(spark_out, "q242_hard_negatives").set_index(["q_id", "rn"])
    errs = []
    n = 0
    for q in range(10):
        cand = [v for v in X if v >= 10 and lab[v] != lab[q]]
        scored = sorted(((_cos(X, q, v), v) for v in cand),
                        key=lambda t: (-t[0], t[1]))[:k]
        for rn, (cos, v) in enumerate(scored, 1):
            n += 1
            row = got.loc[(q, rn)]
            if int(row["c_id"]) != v or row["c_label"] != lab[v] or \
               not close(row["cosine"], cos, 1e-9):
                errs.append(f"q {q} rn {rn}: mismatch")
    if len(got) != n:
        errs.append(f"row count {len(got)} != {n}")
    return errs


def check_q83_pmi(con, sf_dir, spark_out, top_n=50):
    toks = _doc_tokens(con, sf_dir)
    n_docs = len(toks)
    inc = {d: set(tk) for d, tk in toks.items()}
    df = {}
    for s in inc.values():
        for w in s:
            df[w] = df.get(w, 0) + 1
    top = {w for w, _ in
           sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))[:top_n]}
    co = {}
    for s in inc.values():
        ws = sorted(s & top)
        for i in range(len(ws)):
            for j in range(i + 1, len(ws)):
                co[(ws[i], ws[j])] = co.get((ws[i], ws[j]), 0) + 1
    got = dump(spark_out, "q83_pmi_cooccur").set_index(["word_a", "word_b"])
    errs = []
    if len(got) != len(co):
        errs.append(f"pair count {len(got)} != {len(co)}")
    for (a, b), n in co.items():
        pmi = math.log(n * n_docs / (df[a] * df[b]))
        row = got.loc[(a, b)]
        if int(row["n_co"]) != n or not close(row["pmi"], pmi, 6e-7):
            errs.append(f"({a},{b}): pmi mismatch")
    return errs


def check_q110_triangles(con, sf_dir, spark_out):
    edges = coclick_edges(con, sf_dir)
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tris = sum(len(adj[a] & adj[b]) for a, b in edges) // 3
    row = dump(spark_out, "q110_triangles").iloc[0]
    errs = []
    if int(row["n_edges"]) != len(edges) or int(row["n_triangles"]) != tris:
        errs.append(f"({row['n_edges']},{row['n_triangles']})"
                    f" != ({len(edges)},{tris})")
    return errs


def check_q121_itemcf(con, sf_dir, spark_out, k=5):
    ck = clicks(con, sf_dir)[["userId", "newsId"]].drop_duplicates()
    ni = ck.groupby("newsId").size().to_dict()
    co = {}
    for _, g in ck.groupby("userId"):
        ids = sorted(g["newsId"].astype(int))
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                co[(ids[i], ids[j])] = co.get((ids[i], ids[j]), 0) + 1
    nbrs = {}
    for (a, b), c in co.items():
        s = spark_round(c / math.sqrt(ni[a] * ni[b]), 6)
        nbrs.setdefault(a, []).append((s, b))
        nbrs.setdefault(b, []).append((s, a))
    got = dump(spark_out, "q121_item_cf").set_index(["news_id", "rank"])
    errs = []
    n = 0
    for a, lst in nbrs.items():
        top = sorted(lst, key=lambda t: (-t[0], t[1]))[:k]
        for rank, (s, b) in enumerate(top, 1):
            n += 1
            row = got.loc[(a, rank)]
            if int(row["neighbor_id"]) != b or \
               not close(row["cos_sim"], s, 1e-9):
                errs.append(f"news {a} rank {rank}: mismatch")
    if len(got) != n:
        errs.append(f"row count {len(got)} != {n}")
    return errs


def check_q238_assoc(con, sf_dir, spark_out):
    ck = clicks(con, sf_dir)[["userId", "date", "newsId"]].drop_duplicates()
    supp = ck.groupby("newsId").size().to_dict()
    n_baskets = len(ck[["userId", "date"]].drop_duplicates())
    co = {}
    for _, g in ck.groupby(["userId", "date"]):
        ids = sorted(g["newsId"].astype(int))
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                co[(ids[i], ids[j])] = co.get((ids[i], ids[j]), 0) + 1
    rules = sorted(
        ((spark_round(c * n_baskets / (supp[a] * supp[b]), 6), a, b, c)
         for (a, b), c in co.items()),
        key=lambda t: (-t[0], t[1], t[2]))[:100]
    got = dump(spark_out, "q238_assoc_rules")
    got = got.sort_values(["lift", "item_a", "item_b"],
                          ascending=[False, True, True])
    errs = []
    for (lift, a, b, c), (_, row) in zip(rules, got.iterrows()):
        if (int(row["item_a"]), int(row["item_b"]), int(row["n_pair"])) \
           != (a, b, c) or not close(row["lift"], lift, 1e-9) or \
           int(row["n_baskets"]) != n_baskets:
            errs.append(f"rule ({a},{b}): mismatch")
    return errs


def check_q244_twohop(con, sf_dir, spark_out, cap=128):
    ck = clicks(con, sf_dir)[["userId", "newsId"]].drop_duplicates()
    hop1 = ck.groupby("newsId")["userId"].nunique().to_dict()
    deg = ck.groupby("userId").size()
    ok = set(deg[deg <= cap].index)
    two = {}
    for u, g in ck.groupby("userId"):
        if u not in ok:
            continue
        ids = set(g["newsId"].astype(int))
        for a in ids:
            two.setdefault(a, set()).update(ids - {a})
    got = dump(spark_out, "q244_two_hop").set_index("newsId")
    errs = []
    if len(got) != len(hop1):
        errs.append(f"row count {len(got)} != {len(hop1)}")
    for nid, nu in hop1.items():
        row = got.loc[nid]
        if int(row["n_users"]) != nu or \
           int(row["n_two_hop_news"]) != len(two.get(nid, ())):
            errs.append(f"news {nid}: mismatch")
    return errs


def check_q233_power(con, sf_dir, spark_out):
    ck = clicks(con, sf_dir)
    c = ck.groupby(["userId", "newsId"]).size().astype(float)
    news = sorted({n for _, n in c.index})
    v = {n: 1.0 for n in news}

    def u_step(v):
        u = {}
        for (uu, nn), cc in c.items():
            if nn in v:
                u[uu] = u.get(uu, 0.0) + cc * v[nn]
        nrm = math.sqrt(sum(x * x for x in u.values()))
        return {k: spark_round(x / nrm, 6) for k, x in u.items()}

    def v_step(u):
        vv = {}
        for (uu, nn), cc in c.items():
            if uu in u:
                vv[nn] = vv.get(nn, 0.0) + cc * u[uu]
        nrm = math.sqrt(sum(x * x for x in vv.values()))
        return {k: spark_round(x / nrm, 6) for k, x in vv.items()}

    v = v_step(u_step(v_step(u_step(v))))
    got = dump(spark_out, "q233_power_factor").set_index("newsId")
    errs = []
    bad = sum(1 for n, x in v.items()
              if not close(got.loc[n, "v"], x, 2e-6))
    if bad:
        errs.append(f"{bad}/{len(v)} power-factor components differ")
    return errs


def check_q235_seasonal(con, sf_dir, spark_out):
    ck = clicks(con, sf_dir)
    daily = ck.groupby("date").size().sort_index()
    days = [pd.Timestamp(d) for d in daily.index]
    n = daily.to_numpy(dtype=np.float64)
    rows = []
    for i in range(len(n)):
        lo, hi = i - 3, i + 3
        if lo < 0 or hi >= len(n):
            continue
        trend = n[lo:hi + 1].mean()
        dow = (days[i] - pd.Timestamp("2024-01-01")).days % 7
        rows.append((days[i], n[i], trend, dow, n[i] - trend))
    seas = {}
    for _, _, _, dow, detr in rows:
        seas.setdefault(dow, []).append(detr)
    seas = {k: sum(v) / len(v) for k, v in seas.items()}
    got = dump(spark_out, "q235_seasonal")
    got["date"] = pd.to_datetime(got["date"])
    got = got.set_index("date")
    errs = []
    if len(got) != len(rows):
        errs.append(f"row count {len(got)} != {len(rows)}")
    for day, nn, trend, dow, detr in rows:
        row = got.loc[day]
        if not close(row["n"], nn, 1e-9) or \
           not close(row["trend"], trend, 6e-7) or \
           not close(row["seasonal"], seas[dow], 6e-7) or \
           not close(row["resid"], detr - seas[dow], 6e-7):
            errs.append(f"{day.date()}: seasonal decomposition mismatch")
    return errs


def _ntile(n_rows, tiles, rank):
    """SQL ntile: first (n mod t) tiles get ceil(n/t) rows. rank 1-based."""
    big = n_rows // tiles + 1
    n_big = n_rows % tiles
    if rank <= big * n_big:
        return (rank - 1) // big + 1
    return n_big + (rank - big * n_big - 1) // (n_rows // tiles) + 1


def check_q232_qnorm(con, sf_dir, spark_out):
    docs = load(con, sf_dir, "documents", "doc_id, lang, n_chars")
    docs = docs.sort_values(["lang", "n_chars", "doc_id"])
    bins = {}
    for lang, g in docs.groupby("lang"):
        nr = len(g)
        for rank, (_, r) in enumerate(g.iterrows(), 1):
            bins[int(r["doc_id"])] = _ntile(nr, 20, rank)
    ref = {}
    for d, qb in bins.items():
        ref.setdefault(qb, []).append(
            int(docs.loc[docs["doc_id"] == d, "n_chars"].iloc[0]))
    ref = {qb: spark_round(sum(v) / len(v), 6) for qb, v in ref.items()}
    got = dump(spark_out, "q232_quantile_norm").set_index("doc_id")
    errs = []
    bad = sum(1 for d, qb in bins.items()
              if int(got.loc[d, "qbin"]) != qb or
              not close(got.loc[d, "norm_value"], ref[qb], 1e-9))
    if bad:
        errs.append(f"{bad}/{len(bins)} quantile-norm rows differ")
    return errs


def check_q166_rfm(con, sf_dir, spark_out):
    orders = load(con, sf_dir, "orders",
                  "o_custkey, CAST(o_orderdate AS DATE) AS d, o_totalprice")
    per = orders.groupby("o_custkey").agg(
        last=("d", "max"), freq=("d", "size"), mon=("o_totalprice", "sum"))
    per["mon"] = per["mon"].map(lambda v: spark_round(v, 2))
    nr = len(per)
    scores = {}
    for colname, key in (("r", "last"), ("f", "freq"), ("m", "mon")):
        # key desc, tie-break custkey asc — the lane's ntile order
        order = per.reset_index().sort_values(
            [key, "o_custkey"], ascending=[False, True])
        for rank, (_, r) in enumerate(order.iterrows(), 1):
            scores.setdefault(int(r["o_custkey"]), {})[colname] = \
                _ntile(nr, 5, rank)
    cells = {}
    for _, sc in scores.items():
        key = (sc["r"], sc["f"], sc["m"])
        cells[key] = cells.get(key, 0) + 1
    got = dump(spark_out, "q166_rfm").set_index(["r", "f", "m"])
    errs = []
    if len(got) != len(cells):
        errs.append(f"cell count {len(got)} != {len(cells)}")
    for key, cnt in cells.items():
        if key not in got.index or int(got.loc[key, "n_customers"]) != cnt:
            errs.append(f"cell {key}: count mismatch")
    return errs


def check_q231_gapfill(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events",
              "user_id, CAST(ts AS DATE) AS day, value")
    daily = ev.groupby(["user_id", "day"])["value"].mean().map(
        lambda v: spark_round(v, 6))
    got = dump(spark_out, "q231_gapfill_linear")
    got["day"] = pd.to_datetime(got["day"])
    got = got.set_index(["user_id", "day"])
    errs = []
    n = 0
    bad = 0
    for uid, series in daily.groupby(level=0):
        obs = {pd.Timestamp(d): v for (_, d), v in series.items()}
        days = sorted(obs)
        day = days[0]
        while day <= days[-1]:
            n += 1
            if day in obs:
                exp = obs[day]
                observed = True
            else:
                pdm = max(d for d in days if d < day)
                ndm = min(d for d in days if d > day)
                pvu = int(spark_round(obs[pdm] * 1e6, 0))
                nvu = int(spark_round(obs[ndm] * 1e6, 0))
                num = (nvu - pvu) * (day - pdm).days
                den = (ndm - pdm).days
                exp = spark_round((pvu + num // den) / 1e6, 6)
                observed = False
            row = got.loc[(uid, day)]
            if bool(row["observed"]) != observed or \
               not close(row["value"], exp, 1e-9):
                bad += 1
            day += pd.Timedelta(days=1)
    if bad:
        errs.append(f"{bad}/{n} gapfill rows differ")
    if len(got) != n:
        errs.append(f"row count {len(got)} != {n}")
    return errs


def _events_pd(con, sf_dir):
    """Raw events columns for the round-trip lanes, pandas-native types."""
    ev = load(con, sf_dir, "events",
              "event_id, ts, user_id, event_type, value")
    ev["ts"] = pd.to_datetime(ev["ts"])
    return ev


def check_q258_avro(con, sf_dir, spark_out):
    """Avro round-trip lane: recompute the per-(type, day) aggregates
    straight from the source parquet — if the Avro write/read perturbed any
    value (timestamp precision, double bits), the groups drift here."""
    ev = _events_pd(con, sf_dir)
    ev["day"] = ev["ts"].dt.date
    # epoch micros, textbook: (ts - epoch) in microseconds
    epoch = pd.Timestamp("1970-01-01")
    ev["ts_us"] = (ev["ts"] - epoch) // pd.Timedelta(microseconds=1)
    exp = ev.groupby(["event_type", "day"]).agg(
        n=("event_id", "size"), sum_value=("value", "sum"),
        min_ts_us=("ts_us", "min"))
    got = dump(spark_out, "q258_avro_roundtrip")
    got["day"] = pd.to_datetime(got["day"]).dt.date
    got = got.set_index(["event_type", "day"])
    errs = []
    if len(got) != len(exp):
        errs.append(f"group count {len(got)} != {len(exp)}")
    for key, e in exp.iterrows():
        if key not in got.index:
            errs.append(f"missing group {key}")
            continue
        g = got.loc[key]
        if int(g["n"]) != int(e["n"]):
            errs.append(f"{key}: n {g['n']} != {e['n']}")
        # dump is round(sum,2); recompute unrounded → half-grid + float slack
        if not close(g["sum_value"], e["sum_value"],
                     0.005 + 1e-9 * abs(e["sum_value"])):
            errs.append(f"{key}: sum_value {g['sum_value']} != "
                        f"{e['sum_value']}")
        if int(g["min_ts_us"]) != int(e["min_ts_us"]):
            errs.append(f"{key}: min_ts_us {g['min_ts_us']} != "
                        f"{e['min_ts_us']}")
    return errs[:5]


def check_q259_xml(con, sf_dir, spark_out):
    """XML round-trip lane: exact-integer recompute (cents, epoch micros,
    id sums) from the source parquet."""
    ev = _events_pd(con, sf_dir)
    epoch = pd.Timestamp("1970-01-01")
    ev["ts_us"] = (ev["ts"] - epoch) // pd.Timedelta(microseconds=1)
    # cents via Decimal-repr HALF_UP, matching Spark round() semantics
    from decimal import Decimal, ROUND_HALF_UP
    ev["cents"] = [int(Decimal(repr(v * 100)).quantize(
        Decimal(1), rounding=ROUND_HALF_UP)) for v in ev["value"]]
    exp = ev.groupby("event_type").agg(
        n=("event_id", "size"), sum_cents=("cents", "sum"),
        max_ts_us=("ts_us", "max"), sum_event_id=("event_id", "sum"))
    got = dump(spark_out, "q259_xml_roundtrip").set_index("event_type")
    errs = []
    if len(got) != len(exp):
        errs.append(f"group count {len(got)} != {len(exp)}")
    for key, e in exp.iterrows():
        if key not in got.index:
            errs.append(f"missing group {key}")
            continue
        g = got.loc[key]
        for c in ("n", "sum_cents", "max_ts_us", "sum_event_id"):
            if int(g[c]) != int(e[c]):
                errs.append(f"{key}: {c} {g[c]} != {e[c]}")
    return errs[:5]


def check_q260_bigram_lm(con, sf_dir, spark_out):
    """Textbook add-1 bigram LM: counts via Counter, NLL via math.log."""
    from collections import Counter
    toks = _doc_tokens(con, sf_dir)
    cb, cw = Counter(), Counter()
    per_doc = {}
    for d, tk in toks.items():
        if len(tk) < 2:
            continue
        bigs = Counter(zip(tk[:-1], tk[1:]))
        per_doc[d] = bigs
        for b, k in bigs.items():
            cb[b] += k
            cw[b[0]] += k
    v = float(len(cw))
    got = dump(spark_out, "q260_bigram_lm").set_index("doc_id")
    errs = []
    if len(got) != len(per_doc):
        errs.append(f"row count {len(got)} != {len(per_doc)}")
    for d, bigs in per_doc.items():
        if d not in got.index:
            errs.append(f"missing doc {d}")
            continue
        n = sum(bigs.values())
        nll = sum(k * -math.log((cb[b] + 1) / (cw[b[0]] + v))
                  for b, k in bigs.items())
        g = got.loc[d]
        if int(g["n_bigrams"]) != n:
            errs.append(f"doc {d}: n_bigrams {g['n_bigrams']} != {n}")
        if not close(g["avg_nll"], nll / n, 5.1e-7):
            errs.append(f"doc {d}: avg_nll {g['avg_nll']} != {nll / n}")
    return errs[:5]


def check_q261_pmi(con, sf_dir, spark_out, min_count=5, topk=20):
    """Textbook PMI over corpus uni/bigram counts, ranked on the rounded
    value with (w1, w2) tie-break — the engine's display-rounded ranking
    contract, replicated with Decimal HALF_UP."""
    from collections import Counter
    from decimal import Decimal, ROUND_HALF_UP
    toks = _doc_tokens(con, sf_dir)
    uni, bi = Counter(), Counter()
    nt = nb = 0
    for d, tk in toks.items():
        if len(tk) < 2:
            continue
        uni.update(tk)
        nt += len(tk)
        bi.update(zip(tk[:-1], tk[1:]))
        nb += len(tk) - 1
    def r6(x):
        return float(Decimal(repr(x)).quantize(Decimal("1e-6"),
                                               rounding=ROUND_HALF_UP))
    rows = []
    for (w1, w2), c in bi.items():
        if c < min_count:
            continue
        pmi = r6(math.log(c * float(nt) * float(nt)
                          / (nb * float(uni[w1]) * float(uni[w2]))))
        rows.append((w1, w2, c, pmi))
    rows.sort(key=lambda r: (-r[3], r[0], r[1]))
    exp = rows[:topk]
    got = dump(spark_out, "q261_pmi_collocations")
    errs = []
    if len(got) != len(exp):
        errs.append(f"row count {len(got)} != {len(exp)}")
    gs = [(r["w1"], r["w2"], int(r["n_pair"]), float(r["pmi"]))
          for _, r in got.iterrows()]
    gs.sort(key=lambda r: (-r[3], r[0], r[1]))
    for (ew), (gw) in zip(exp, gs):
        if ew[:3] != gw[:3] or not close(ew[3], gw[3], 2e-6):
            errs.append(f"{gw} != expected {ew}")
    return errs[:5]


def check_q262_split(con, sf_dir, spark_out):
    """Independent md5 bucket derivation via hashlib (not the SQL digit
    arithmetic), exact-integer stratum totals."""
    import hashlib
    docs = load(con, sf_dir, "documents", "doc_id, lang, text")
    agg = {}
    for _, r in docs.iterrows():
        b = int(hashlib.md5(str(int(r["doc_id"])).encode()).hexdigest()[:6],
                16) % SHARED["split_draw"]["mod"]
        split = _split_of(b)[0]
        k = (r["lang"], split)
        n, t = agg.get(k, (0, 0))
        agg[k] = (n + 1, t + len(tokenize(r["text"])))
    got = dump(spark_out, "q262_split_manifest").set_index(["lang", "split"])
    errs = []
    if len(got) != len(agg):
        errs.append(f"group count {len(got)} != {len(agg)}")
    for k, (n, t) in agg.items():
        if k not in got.index:
            errs.append(f"missing group {k}")
            continue
        g = got.loc[k]
        if int(g["n_docs"]) != n or int(g["n_tokens"]) != t:
            errs.append(f"{k}: ({g['n_docs']}, {g['n_tokens']}) != ({n}, {t})")
    return errs[:5]


def check_q264_unimax(con, sf_dir, spark_out, e=3, budget_x=2):
    """Textbook UniMax greedy: literal sequential water-filling loop over
    languages ascending by token count (not the engine's closed-form
    cumulative-AND window)."""
    docs = load(con, sf_dir, "documents", "lang, text")
    docs["ntk"] = docs["text"].map(lambda t: len(tokenize(t)))
    per = docs.groupby("lang")["ntk"].sum().sort_values().reset_index()
    per = per.sort_values(["ntk", "lang"]).reset_index(drop=True)
    budget = budget_x * int(per["ntk"].sum())
    remaining = budget
    exp = {}
    langs = list(per.itertuples(index=False))
    cut = len(langs)                         # first uncapped position
    for j, row in enumerate(langs):
        rem_langs = len(langs) - j
        c = int(row.ntk)
        if e * c * rem_langs <= remaining:   # capped: takes E full epochs
            exp[row.lang] = (c, True, e * c, float(e))
            remaining -= e * c
        else:                                # water level reached: everyone
            cut = j                          # past here splits R evenly
            break
    for row in langs[cut:]:
        c, rem_langs = int(row.ntk), len(langs) - cut
        alloc = half_up_ratio(remaining, rem_langs, 0)
        epochs = half_up_ratio(remaining * 10000, rem_langs * c, 4)
        exp[row.lang] = (c, False, int(alloc), epochs)
    got = dump(spark_out, "q264_unimax_epochs").set_index("lang")
    errs = []
    if len(got) != len(exp):
        errs.append(f"lang count {len(got)} != {len(exp)}")
    for lang, (c, capped, alloc, epochs) in exp.items():
        g = got.loc[lang]
        if (int(g["n_tokens"]), bool(g["capped"]), int(g["alloc_tokens"]),
                float(g["epochs"])) != (c, capped, alloc, epochs):
            errs.append(f"{lang}: {tuple(g)} != {(c, capped, alloc, epochs)}")
    return errs[:5]


def check_q265_coverage(con, sf_dir, spark_out,
                        targets=(5000, 7500, 9000, 9900)):
    """Brute-force curve: full descending sort of WORD counts and a literal
    cumulative scan (not the engine's count-histogram shortcut)."""
    from collections import Counter
    docs = load(con, sf_dir, "documents", "text")
    cnt = Counter()
    for t in docs["text"]:
        cnt.update(tokenize(t))
    counts = sorted(cnt.values(), reverse=True)
    total = sum(counts)
    exp = {}
    for p in targets:
        cum = 0
        for k, c in enumerate(counts, start=1):
            cum += c
            if 10000 * cum >= p * total:
                exp[p] = (k, half_up_ratio(cum * 10000, total, 4))
                break
    got = dump(spark_out, "q265_topk_coverage").set_index("p_bp")
    errs = []
    for p, (k, cov) in exp.items():
        g = got.loc[p]
        if int(g["k_min"]) != k or float(g["coverage"]) != cov:
            errs.append(f"p={p}: ({g['k_min']}, {g['coverage']}) != ({k}, {cov})")
    return errs[:5]


def check_q266_pair_pack(con, sf_dir, spark_out, cap=110):
    """Literal complement pairing over a full sort (two-pointer loop, not
    the engine's distributed rank + bin groupBy)."""
    docs = load(con, sf_dir, "documents", "doc_id, text")
    docs["n_tok"] = docs["text"].map(lambda t: len(tokenize(t)))
    toks = list(docs.sort_values(["n_tok", "doc_id"],
                                 ascending=[False, True])["n_tok"])
    lo, hi = 0, len(toks) - 1
    fit = split = single = 0
    fit_tok = 0
    while lo <= hi:
        if lo == hi:
            single += 1
        elif toks[lo] + toks[hi] <= cap:
            fit += 1
            fit_tok += toks[lo] + toks[hi]
        else:
            split += 1
        lo += 1
        hi -= 1
    avg_fill = half_up_ratio(fit_tok * 10000, fit * cap, 4) if fit else 0.0
    got = dump(spark_out, "q266_pair_pack").iloc[0]
    exp = (len(toks), fit, split, single, fit + 2 * split + single, avg_fill)
    g = (int(got["n_docs"]), int(got["n_pairs_fit"]), int(got["n_pairs_split"]),
         int(got["n_singletons"]), int(got["n_bins"]), float(got["avg_fill"]))
    return [] if g == exp else [f"{g} != {exp}"]


def check_q267_ccnet(con, sf_dir, spark_out):
    """Tercile bucketing recomputed with a literal sort over the engine's
    own q260 score dump (those scores are independently verified by
    check_q260); the boundary selection, bucket labeling, and aggregation
    algebra here are all fresh."""
    sc = dump(spark_out, "q260_bigram_lm")
    docs = load(con, sf_dir, "documents", "doc_id, lang, text")
    docs["ntk"] = docs["text"].map(lambda t: len(tokenize(t)))
    m = docs.merge(sc[["doc_id", "avg_nll"]], on="doc_id")
    exp = {}
    for lang, g in m.groupby("lang"):
        vals = sorted(g["avg_nll"])
        n = len(vals)
        c1 = vals[(n + 2) // 3 - 1]
        c2 = vals[(2 * n + 2) // 3 - 1]
        for _, r in g.iterrows():
            b = ("head" if r["avg_nll"] <= c1
                 else ("middle" if r["avg_nll"] <= c2 else "tail"))
            nd, nt = exp.get((lang, b), (0, 0))
            exp[(lang, b)] = (nd + 1, nt + int(r["ntk"]))
    got = dump(spark_out, "q267_ccnet_buckets").set_index(["lang", "bucket"])
    errs = []
    if len(got) != len(exp):
        errs.append(f"group count {len(got)} != {len(exp)}")
    for k, (nd, nt) in exp.items():
        if k not in got.index:
            errs.append(f"missing group {k}")
            continue
        g = got.loc[k]
        if int(g["n_docs"]) != nd or int(g["n_tokens"]) != nt:
            errs.append(f"{k}: ({g['n_docs']}, {g['n_tokens']}) != ({nd}, {nt})")
    return errs[:5]


def check_q268_leakage(con, sf_dir, spark_out, band=2):
    """LSH bands, exact Jaccard, and the md5 split rule all recomputed
    from hashlib/Counter primitives; leakage canonicalization by split
    rank in a literal loop."""
    import hashlib
    sigs, toks = _minhash_sigs(con, sf_dir)
    buckets = {}
    for d, mins in sigs.items():
        if mins[0] is None:
            continue
        for b in range(len(mins) // band):
            key = (b, "".join(mins[b * band:(b + 1) * band]))
            buckets.setdefault(key, []).append(d)
    pairs = set()
    for ds in buckets.values():
        ds.sort()
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                pairs.add((ds[i], ds[j]))
    sets = {d: {" ".join(tk[i:i + 3]) for i in range(len(tk) - 2)}
            for d, tk in toks.items() if len(tk) >= 3}

    def split(d):
        bk = int(hashlib.md5(str(int(d)).encode()).hexdigest()[:6],
                 16) % SHARED["split_draw"]["mod"]
        return _split_of(bk)

    exp = {}
    for a, b in pairs:
        if a not in sets or b not in sets:
            continue
        inter = len(sets[a] & sets[b])
        if inter / (len(sets[a]) + len(sets[b]) - inter) < 0.5:
            continue
        (sa, ra), (sb, rb) = split(a), split(b)
        if sa == sb:
            continue
        lo, hi, leaked = (sa, sb, b) if ra <= rb else (sb, sa, a)
        np_, docs_ = exp.setdefault((lo, hi), [0, set()])
        exp[(lo, hi)][0] += 1
        exp[(lo, hi)][1].add(leaked)
    got = dump(spark_out, "q268_split_leakage").set_index(
        ["split_lo", "split_hi"])
    errs = []
    if len(got) != len(exp):
        errs.append(f"group count {len(got)} != {len(exp)}")
    for k, (np_, docs_) in exp.items():
        if k not in got.index:
            errs.append(f"missing group {k}")
            continue
        g = got.loc[k]
        if int(g["n_pairs"]) != np_ or int(g["n_leaked_docs"]) != len(docs_):
            errs.append(f"{k}: ({g['n_pairs']}, {g['n_leaked_docs']})"
                        f" != ({np_}, {len(docs_)})")
    return errs[:5]


def check_q269_recall(con, sf_dir, spark_out, pct=5, target=250, band=2):
    """Ground truth by a literal O(sample²) double loop with set Jaccard
    (no shingle-join shortcut); LSH side from the md5 minhash mirror.
    Restricting bucket construction to the sample is equivalent to the
    engine's corpus-wide LSH filtered to sample-sample pairs. The draw
    threshold is min(pct%, ceil(target*1e9/N)) ppb of a 12-hex md5 draw —
    the engine's fixed-absolute sample cap, recomputed independently."""
    import hashlib
    sigs, toks = _minhash_sigs(con, sf_dir)
    n_docs = len(toks)
    thr = min(pct * 10**7, -(-target * 10**9 // n_docs)) if n_docs else 0

    def drw(d):
        return int(hashlib.md5(str(int(d)).encode()).hexdigest()[:12],
                   16) % 10**9

    sample = sorted(d for d in toks if drw(d) < thr)
    sets = {d: {" ".join(toks[d][i:i + 3]) for i in range(len(toks[d]) - 2)}
            for d in sample if len(toks[d]) >= 3}
    ids = sorted(sets)
    true_pairs = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            inter = len(sets[a] & sets[b])
            if inter and inter / (len(sets[a]) + len(sets[b]) - inter) >= 0.5:
                true_pairs.add((a, b))
    buckets = {}
    for d in sample:
        mins = sigs[d]
        if mins[0] is None:
            continue
        for b in range(len(mins) // band):
            buckets.setdefault(
                (b, "".join(mins[b * band:(b + 1) * band])), []).append(d)
    lsh = set()
    for ds in buckets.values():
        ds = sorted(set(ds))
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                a, b = ds[i], ds[j]
                if a in sets and b in sets:
                    inter = len(sets[a] & sets[b])
                    if inter / (len(sets[a]) + len(sets[b]) - inter) >= 0.5:
                        lsh.add((a, b))
    recall = (half_up_ratio(len(lsh) * 10000, len(true_pairs), 4)
              if true_pairs else 1.0)
    g = dump(spark_out, "q269_lsh_recall_audit").iloc[0]
    got = (int(g["n_sample_docs"]), int(g["n_true_pairs"]),
           int(g["n_lsh_pairs"]), float(g["recall"]))
    exp = (len(sample), len(true_pairs), len(lsh), recall)
    return [] if got == exp else [f"{got} != {exp}"]


def check_q270_data_card(con, sf_dir, spark_out):
    """Per-source card recomputed from the union-find cluster labels
    (shared _lsh_dup_edges/_cc_labels primitives) and a literal dict
    aggregation; entropy via math.log."""
    edges, all_ids = _lsh_dup_edges(con, sf_dir)
    labels = _cc_labels(all_ids, edges)
    docs = load(con, sf_dir, "documents", "doc_id, source, lang, text")
    agg = {}
    for _, r in docs.iterrows():
        d = int(r["doc_id"])
        cell = agg.setdefault(r["source"], {}).setdefault(r["lang"], [0, 0, 0])
        cell[0] += 1
        cell[1] += len(tokenize(r["text"]))
        cell[2] += 0 if labels[d] == d else 1
    got = dump(spark_out, "q270_data_card").set_index("source")
    errs = []
    if len(got) != len(agg):
        errs.append(f"source count {len(got)} != {len(agg)}")
    for src, langs in agg.items():
        n = sum(v[0] for v in langs.values())
        tk = sum(v[1] for v in langs.values())
        dup = sum(v[2] for v in langs.values())
        ent = math.log(n) - sum(v[0] * math.log(v[0])
                                for v in langs.values()) / n
        g = got.loc[src]
        if (int(g["n_docs"]), int(g["n_tokens"]), int(g["n_langs"]),
                int(g["n_dup_docs"])) != (n, tk, len(langs), dup):
            errs.append(f"{src}: counts differ")
        if float(g["dup_rate"]) != half_up_ratio(dup * 10000, n, 4) or \
           float(g["avg_tokens"]) != half_up_ratio(tk * 10000, n, 4):
            errs.append(f"{src}: ratios differ")
        if not close(g["lang_entropy"], ent, 5.1e-7):
            errs.append(f"{src}: entropy {g['lang_entropy']} != {ent}")
    return errs[:5]


def check_q253_spans(con, sf_dir, spark_out, n=5):
    toks = _doc_tokens(con, sf_dir)
    per_doc = {}
    for d, tk in toks.items():
        if len(tk) < n:
            continue
        g = {}
        for i in range(len(tk) - n + 1):
            ng = " ".join(tk[i:i + n])
            g[ng] = g.get(ng, 0) + 1
        per_doc[d] = g
    ndocs = {}
    for g in per_doc.values():
        for ng in g:
            ndocs[ng] = ndocs.get(ng, 0) + 1
    got = dump(spark_out, "q253_dup_spans").set_index("doc_id")
    errs = []
    if len(got) != len(per_doc):
        errs.append(f"doc count {len(got)} != {len(per_doc)}")
    bad = 0
    for d, g in per_doc.items():
        total = sum(g.values())
        ndup = sum(k for ng, k in g.items() if ndocs[ng] >= 2)
        frac = half_up_ratio(ndup * 10000, total, 4)
        row = got.loc[d]
        if int(row["n_ngrams"]) != total or int(row["n_dup"]) != ndup or \
           not close(row["dup_frac"], frac, 1e-9):
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(per_doc)} dup-span rows differ")
    return errs


def check_q54_sessionize(con, sf_dir, spark_out, gap=1800):
    ev = load(con, sf_dir, "events", "user_id, event_id, ts")
    got = dump(spark_out, "q54_sessionize").set_index(["user_id", "session_id"])
    errs = []
    n = 0
    bad = 0
    for uid, grp in ev.groupby("user_id"):
        g = grp.sort_values(["ts", "event_id"])
        # explicit µs epoch — the frame's native resolution varies (ns via
        # pandas, µs via pyarrow), and a unit slip here silently merges
        # every session
        t = g["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        sid = 0
        stats = {}
        prev = None
        for tt in t:
            if prev is None or tt - prev >= gap * 1000000:
                sid += 1
                stats[sid] = [0, tt, tt]
            stats[sid][0] += 1
            stats[sid][2] = tt
            prev = tt
        for s, (ne, t0, t1) in stats.items():
            n += 1
            row = got.loc[(uid, s)]
            if int(row["n_events"]) != ne or \
               int(pd.Timestamp(row["t_start"]).value // 1000) != t0 or \
               int(pd.Timestamp(row["t_end"]).value // 1000) != t1:
                bad += 1
    if bad:
        errs.append(f"{bad}/{n} sessions differ from the gap-merge rule")
    if len(got) != n:
        errs.append(f"session count {len(got)} != {n}")
    return errs


def check_q99_funnel(con, sf_dir, spark_out):
    docs = load(con, sf_dir, "documents", "doc_id, n_chars, text")
    stages = {}
    for _, r in docs.iterrows():
        tk = tokenize(r["text"])
        uniq = spark_round(len(set(tk)) / len(tk), 6) if tk else 0.0
        nc = int(r["n_chars"])
        if not (200 <= nc <= 20000):
            reach = 0
        elif not uniq >= 0.3:
            reach = 1
        elif not len(tk) >= 50:
            reach = 2
        else:
            reach = 3
        for st in range(reach + 1):
            a, b = stages.get(st, (0, 0))
            stages[st] = (a + 1, b + nc)
    got = dump(spark_out, "q99_funnel").set_index("stage")
    errs = []
    for st, (nd, sc) in stages.items():
        row = got.loc[st]
        if int(row["n_docs"]) != nd or int(row["sum_chars"]) != sc:
            errs.append(f"stage {st}: ({row['n_docs']},{row['sum_chars']})"
                        f" != ({nd},{sc})")
    return errs


def check_q108_retention(con, sf_dir, spark_out):
    ck = clicks(con, sf_dir)[["userId", "date"]].drop_duplicates()
    ck["date"] = pd.to_datetime(ck["date"])
    cohort = ck.groupby("userId")["date"].min()
    cells = {}
    for _, r in ck.iterrows():
        co = cohort[r["userId"]]
        age = (r["date"] - co).days
        cells[(co, age)] = cells.get((co, age), 0) + 1
    got = dump(spark_out, "q108_retention")
    got["cohort"] = pd.to_datetime(got["cohort"])
    got = got.set_index(["cohort", "age"])
    errs = []
    if len(got) != len(cells):
        errs.append(f"cell count {len(got)} != {len(cells)}")
    for key, nu in cells.items():
        if key not in got.index or int(got.loc[key, "n_users"]) != nu:
            errs.append(f"cell {key}: mismatch")
    return errs


def check_q147_gaps(con, sf_dir, spark_out):
    ck = clicks(con, sf_dir)[["newsId", "date"]].drop_duplicates()
    ck["date"] = pd.to_datetime(ck["date"])
    gaps = []
    for nid, g in ck.groupby("newsId"):
        days = set(g["date"])
        lo, hi = min(days), max(days)
        run = None
        day = lo
        while day <= hi:
            if day not in days:
                if run is None:
                    run = [day, day]
                else:
                    run[1] = day
            else:
                if run is not None:
                    gaps.append((int(nid), run[0], run[1],
                                 (run[1] - run[0]).days + 1))
                    run = None
            day += pd.Timedelta(days=1)
        if run is not None:
            gaps.append((int(nid), run[0], run[1],
                         (run[1] - run[0]).days + 1))
    got = dump(spark_out, "q147_gap_islands")
    got["gap_start"] = pd.to_datetime(got["gap_start"])
    got["gap_end"] = pd.to_datetime(got["gap_end"])
    got = got.set_index(["news_id", "gap_start"])
    errs = []
    if len(got) != len(gaps):
        errs.append(f"gap count {len(got)} != {len(gaps)}")
    for nid, s, e, ln in gaps:
        if (nid, s) not in got.index:
            errs.append(f"gap ({nid},{s.date()}) missing")
        else:
            row = got.loc[(nid, s)]
            if pd.Timestamp(row["gap_end"]) != e or int(row["gap_len"]) != ln:
                errs.append(f"gap ({nid},{s.date()}): mismatch")
    return errs


def check_q209_streaks(con, sf_dir, spark_out):
    ck = clicks(con, sf_dir)[["userId", "date"]].drop_duplicates()
    ck["date"] = pd.to_datetime(ck["date"])
    dist = {}
    for _, g in ck.groupby("userId"):
        days = sorted(g["date"])
        longest = run = 1
        for a, b in zip(days, days[1:]):
            run = run + 1 if (b - a).days == 1 else 1
            longest = max(longest, run)
        dist[longest] = dist.get(longest, 0) + 1
    got = dump(spark_out, "q209_longest_streak").set_index("longest")
    errs = []
    if len(got) != len(dist):
        errs.append(f"bucket count {len(got)} != {len(dist)}")
    for ln, nu in dist.items():
        if ln not in got.index or int(got.loc[ln, "n_users"]) != nu:
            errs.append(f"streak {ln}: mismatch")
    return errs


def check_q187_trigrams(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events", "user_id, ts, event_id, event_type")
    tri = {}
    for _, grp in ev.groupby("user_id"):
        g = grp.sort_values(["ts", "event_id"])
        et = g["event_type"].tolist()
        for a, b, c in zip(et, et[1:], et[2:]):
            tri[(a, b, c)] = tri.get((a, b, c), 0) + 1
    got = dump(spark_out, "q187_trigram_paths").set_index(
        ["step1", "step2", "step3"])
    errs = []
    if len(got) != len(tri):
        errs.append(f"path count {len(got)} != {len(tri)}")
    for key, n in tri.items():
        if key not in got.index or int(got.loc[key, "n"]) != n:
            errs.append(f"path {key}: mismatch")
    return errs


def check_q14_quality(con, sf_dir, spark_out):
    stop = set(SHARED["quality_stopwords"])
    docs = load(con, sf_dir, "documents", "doc_id, n_chars, text")
    got = dump(spark_out, "q14_quality_score").set_index("doc_id")
    errs = []
    bad = 0
    for _, r in docs.iterrows():
        tk = tokenize(r["text"])
        sr = spark_round(sum(1 for w in tk if w in stop) / len(tk), 6)
        al = spark_round(sum(len(w) for w in tk) / len(tk), 6)
        row = got.loc[int(r["doc_id"])]
        if not close(row["stopword_ratio"], sr, 1e-9) or \
           not close(row["avg_token_len"], al, 1e-9):
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(docs)} quality rows differ")
    return errs


def check_q95_entropy(con, sf_dir, spark_out):
    docs = load(con, sf_dir, "documents", "doc_id, text")
    got = dump(spark_out, "q95_token_entropy").set_index("doc_id")
    errs = []
    bad = 0
    for _, r in docs.iterrows():
        tk = tokenize(r["text"])
        counts = {}
        for w in tk:
            counts[w] = counts.get(w, 0) + 1
        n = len(tk)
        # H = ln n - (Σ c·ln c)/n — the aggregated form both engines use;
        # identical to -Σ p·ln p
        h = math.log(n) - sum(c * math.log(c) for c in counts.values()) / n
        nd = len(counts)
        norm = h / math.log(nd) if nd > 1 else 0.0
        row = got.loc[int(r["doc_id"])]
        if int(row["n_tokens"]) != n or int(row["n_distinct"]) != nd or \
           not close(row["entropy"], h, 6e-7) or \
           not close(row["norm_entropy"], norm, 6e-7):
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(docs)} entropy rows differ")
    return errs


def check_q79_repetition(con, sf_dir, spark_out):
    docs = load(con, sf_dir, "documents", "doc_id, text")
    got = dump(spark_out, "q79_repetition").set_index("doc_id")
    errs = []
    bad = 0
    for _, r in docs.iterrows():
        tk = tokenize(r["text"])
        bg = {}
        for a, b in zip(tk, tk[1:]):
            bg[(a, b)] = bg.get((a, b), 0) + 1
        n_bg = sum(bg.values())
        top = max(bg.values()) if bg else 0
        row = got.loc[int(r["doc_id"])]
        if int(row["n_bigrams"]) != n_bg or int(row["top_count"]) != top or \
           not close(row["rep_ratio"], spark_round(top / n_bg, 6), 1e-9) or \
           not close(row["uniq_ratio"],
                     spark_round(len(set(tk)) / len(tk), 6), 1e-9):
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(docs)} repetition rows differ")
    return errs


def check_q42_budget(con, sf_dir, spark_out):
    docs = load(con, sf_dir, "documents", "doc_id, n_chars, text")
    got = dump(spark_out, "q42_token_budget").set_index("doc_id")
    errs = []
    bad = 0
    for _, r in docs.iterrows():
        tk = tokenize(r["text"])
        sub = sum(math.ceil(len(w) / 4.0) for w in tk)
        row = got.loc[int(r["doc_id"])]
        if int(row["ws_tokens"]) != len(tk) or \
           int(row["subword_tokens"]) != sub or \
           int(row["n_chars"]) != int(r["n_chars"]):
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(docs)} token budgets differ")
    return errs


def check_q65_pack(con, sf_dir, spark_out):
    docs = load(con, sf_dir, "documents", "doc_id, text").sort_values("doc_id")
    got = dump(spark_out, "q65_pack_sequences").set_index("doc_id")
    errs = []
    off = 0
    bad = 0
    for _, r in docs.iterrows():
        n_tok = sum(math.ceil(len(w) / 4.0) for w in tokenize(r["text"]))
        row = got.loc[int(r["doc_id"])]
        if int(row["n_tok"]) != n_tok or int(row["start_off"]) != off or \
           int(row["bin"]) != off // 2048:
            bad += 1
        off += n_tok
    if bad:
        errs.append(f"{bad}/{len(docs)} packing rows differ")
    return errs


def check_q33_langid(con, sf_dir, spark_out):
    markers = {"en": {"the", "a", "of", "and", "is"},
               "de": {"der", "die", "das", "und", "ist"},
               "fr": {"le", "la", "les", "et", "est"},
               "es": {"el", "los", "las", "y", "es"}}
    docs = load(con, sf_dir, "documents", "doc_id, text")
    got = dump(spark_out, "q33_lang_id").set_index("doc_id")
    errs = []
    bad = 0
    for _, r in docs.iterrows():
        tk = tokenize(r["text"])
        best = max(sorted(markers),
                   key=lambda l: (sum(1 for w in tk if w in markers[l]),
                                  [-ord(c) for c in l]))
        n_best = sum(1 for w in tk if w in markers[best])
        pred = "und" if n_best == 0 else best
        if got.loc[int(r["doc_id"]), "predicted_lang"] != pred:
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(docs)} language predictions differ")
    return errs


def check_q34_fingerprint(con, sf_dir, spark_out):
    import hashlib
    docs = load(con, sf_dir, "documents", "doc_id, text")
    got = dump(spark_out, "q34_fingerprint").set_index("doc_id")
    errs = []
    bad = sum(1 for _, r in docs.iterrows()
              if got.loc[int(r["doc_id"]), "fingerprint"] !=
              hashlib.md5("|".join(tokenize(r["text"])).encode()).hexdigest())
    if bad:
        errs.append(f"{bad}/{len(docs)} fingerprints differ")
    return errs


def check_q15_dedup(con, sf_dir, spark_out):
    import hashlib
    docs = load(con, sf_dir, "documents", "doc_id, text")
    groups = {}
    for _, r in docs.iterrows():
        h = hashlib.md5(r["text"].encode()).hexdigest()
        n, rep = groups.get(h, (0, None))
        d = int(r["doc_id"])
        groups[h] = (n + 1, d if rep is None else min(rep, d))
    got = dump(spark_out, "q15_dedup_exact").set_index("content_hash")
    errs = []
    if len(got) != len(groups):
        errs.append(f"group count {len(got)} != {len(groups)}")
    for h, (n, rep) in groups.items():
        if h not in got.index:
            errs.append(f"hash {h} missing")
        else:
            row = got.loc[h]
            if int(row["n_docs"]) != n or int(row["rep_doc"]) != rep:
                errs.append(f"hash {h}: mismatch")
    return errs


class _UF:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def _cc_labels(all_ids, edges):
    """Min-label connected components via union-find (the independent
    formulation of the engine's BSP label propagation)."""
    uf = _UF()
    for a, b in edges:
        uf.union(a, b)
    members = {}
    for v in list(uf.p):
        members.setdefault(uf.find(v), set()).add(v)
    label = {}
    for root, vs in members.items():
        m = min(vs)
        for v in vs:
            label[v] = m
    return {v: label.get(v, v) for v in all_ids}


def _lsh_dup_edges(con, sf_dir, tau=0.5):
    """q70's edge set: LSH candidate pairs with rounded jaccard >= tau."""
    sigs, toks = _minhash_sigs(con, sf_dir)
    buckets = {}
    for d, mins in sigs.items():
        if mins[0] is None:
            continue
        for b in range(4):
            buckets.setdefault((b, "".join(mins[2 * b:2 * b + 2])),
                               []).append(d)
    pairs = set()
    for ds in buckets.values():
        ds.sort()
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                pairs.add((ds[i], ds[j]))
    sets = {d: {" ".join(tk[i:i + 3]) for i in range(len(tk) - 2)}
            for d, tk in toks.items() if len(tk) >= 3}
    edges = []
    for a, b in pairs:
        if a not in sets or b not in sets:
            continue
        inter = len(sets[a] & sets[b])
        j = spark_round(inter / (len(sets[a]) + len(sets[b]) - inter), 6)
        if j >= tau:
            edges.append((a, b))
    return edges, set(toks)


def check_q70_clusters(con, sf_dir, spark_out):
    edges, all_ids = _lsh_dup_edges(con, sf_dir)
    labels = _cc_labels(all_ids, edges)
    got = dump(spark_out, "q70_dedup_clusters").set_index("doc_id")
    errs = []
    bad = sum(1 for v, l in labels.items()
              if int(got.loc[v, "cluster"]) != l or
              bool(got.loc[v, "is_canonical"]) != (v == l))
    if bad:
        errs.append(f"{bad}/{len(labels)} cluster labels differ from"
                    f" union-find")
    if len(got) != len(labels):
        errs.append(f"row count {len(got)} != {len(labels)}")
    return errs


def check_q98_keep_one(con, sf_dir, spark_out):
    edges, all_ids = _lsh_dup_edges(con, sf_dir)
    labels = _cc_labels(all_ids, edges)
    docs = load(con, sf_dir, "documents", "doc_id, lang")
    lang = {int(r["doc_id"]): r["lang"] for _, r in docs.iterrows()}
    ledger = {}
    for v, l in labels.items():
        nd, nk = ledger.get(lang[v], (0, 0))
        ledger[lang[v]] = (nd + 1, nk + (1 if v == l else 0))
    got = dump(spark_out, "q98_dedup_keep_one").set_index("lang")
    errs = []
    for lg, (nd, nk) in ledger.items():
        row = got.loc[lg]
        if int(row["n_docs"]) != nd or int(row["n_kept"]) != nk or \
           int(row["n_dropped"]) != nd - nk:
            errs.append(f"{lg}: ledger mismatch")
    return errs


def _levenshtein(a, b):
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _fuzzy_pairs(con, sf_dir, cap=256, max_dist=10):
    """q225's blocked edit-distance pairs: composite key (8-char prefix |
    len//64), blocks capped at `cap` by doc_id order, 40-char heads."""
    docs = load(con, sf_dir, "documents", "doc_id, text").sort_values("doc_id")
    blocks = {}
    for _, r in docs.iterrows():
        bk = r["text"][:8] + "|" + str(len(r["text"]) // 64)
        blocks.setdefault(bk, []).append((int(r["doc_id"]), r["text"][:40]))
    pairs = []
    for bk, rows in blocks.items():
        for part in range(0, len(rows), cap):
            sub = rows[part:part + cap]
            for i in range(len(sub)):
                for j in range(i + 1, len(sub)):
                    d = _levenshtein(sub[i][1], sub[j][1])
                    if d <= max_dist:
                        pairs.append((sub[i][0], sub[j][0], d))
    return pairs, [int(x) for x in docs["doc_id"]]


def check_q225_fuzzy(con, sf_dir, spark_out):
    pairs, _ = _fuzzy_pairs(con, sf_dir)
    got = dump(spark_out, "q225_fuzzy_block_dedup").set_index(
        ["doc_a", "doc_b"])
    errs = []
    if len(got) != len(pairs):
        errs.append(f"pair count {len(got)} != {len(pairs)}")
    for a, b, d in pairs:
        if (a, b) not in got.index:
            errs.append(f"pair ({a},{b}) missing")
        elif int(got.loc[(a, b), "dist"]) != d:
            errs.append(f"({a},{b}): dist mismatch")
    return errs


def check_q236_clusters(con, sf_dir, spark_out):
    pairs, all_ids = _fuzzy_pairs(con, sf_dir)
    labels = _cc_labels(all_ids, [(a, b) for a, b, _ in pairs])
    got = dump(spark_out, "q236_fuzzy_clusters").set_index("doc_id")
    errs = []
    bad = sum(1 for v, l in labels.items()
              if int(got.loc[v, "cluster"]) != l or
              bool(got.loc[v, "is_canonical"]) != (v == l))
    if bad:
        errs.append(f"{bad}/{len(labels)} fuzzy cluster labels differ")
    return errs


def check_q210_incremental(con, sf_dir, spark_out):
    import hashlib
    docs = load(con, sf_dir, "documents", "doc_id, lang, text")
    existing = {hashlib.md5(r["text"].encode()).hexdigest()
                for _, r in docs.iterrows() if r["doc_id"] < 400}
    delta = [(int(r["doc_id"]), r["lang"],
              hashlib.md5(r["text"].encode()).hexdigest())
             for _, r in docs.iterrows() if r["doc_id"] >= 400]
    first = {}
    for d, lg, fp in sorted(delta):
        if fp not in existing and fp not in first:
            first[fp] = lg
    counts = {}
    for lg in first.values():
        counts[lg] = counts.get(lg, 0) + 1
    got = dump(spark_out, "q210_incremental_dedup").set_index("lang")
    errs = []
    if len(got) != len(counts):
        errs.append(f"lang count {len(got)} != {len(counts)}")
    for lg, n in counts.items():
        row = got.loc[lg]
        if int(row["n_ingested"]) != n or \
           int(row["n_delta_total"]) != len(delta):
            errs.append(f"{lg}: ingest ledger mismatch")
    return errs


def check_q97_winsorize(con, sf_dir, spark_out):
    o = load(con, sf_dir, "orders", "o_orderstatus AS st, o_totalprice AS p")
    o["p"] = o["p"].round(2)
    x = np.sort(o["p"].to_numpy())
    n = len(x)
    p01 = x[math.ceil(0.01 * n) - 1]
    p99 = x[math.ceil(0.99 * n) - 1]
    got = dump(spark_out, "q97_winsorize").set_index("o_orderstatus")
    errs = []
    for st, g in o.groupby("st"):
        cents = np.rint(g["p"].to_numpy() * 100).astype(np.int64)
        clip = np.clip(g["p"].to_numpy(), p01, p99)
        ccents = np.rint(clip * 100).astype(np.int64)
        row = got.loc[st]
        if int(row["n_orders"]) != len(g) or \
           not close(row["avg_raw"],
                     half_up_ratio(int(cents.sum()), len(g), 2), 1e-9) or \
           not close(row["avg_wins"],
                     half_up_ratio(int(ccents.sum()), len(g), 2), 1e-9) or \
           int(row["n_low"]) != int((g["p"] < p01).sum()) or \
           int(row["n_high"]) != int((g["p"] > p99).sum()):
            errs.append(f"{st}: winsorize stats mismatch")
    return errs


def check_q104_equidepth(con, sf_dir, spark_out):
    o = load(con, sf_dir, "orders", "o_totalprice AS p")
    o["p"] = o["p"].round(2)
    x = np.sort(o["p"].to_numpy())
    n = len(x)
    bounds = [x[math.ceil(i * n / 10.0) - 1] for i in range(1, 10)]
    bucket = np.zeros(len(o), dtype=int)
    for b in bounds:
        bucket += (o["p"].to_numpy() > b).astype(int)
    o = o.assign(bucket=bucket)
    got = dump(spark_out, "q104_equidepth").set_index("bucket")
    errs = []
    for bk, g in o.groupby("bucket"):
        row = got.loc[bk]
        if int(row["n_rows"]) != len(g) or \
           not close(row["min_p"], g["p"].min(), 1e-9) or \
           not close(row["max_p"], g["p"].max(), 1e-9):
            errs.append(f"bucket {bk}: mismatch")
    if len(got) != o["bucket"].nunique():
        errs.append("bucket count mismatch")
    return errs


def check_q165_ttc(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events", "event_id, user_id, ts, event_type")
    views = ev[ev["event_type"] == "view"]
    cks = ev[ev["event_type"] == "click"]
    by_user = {u: g["ts"].to_numpy().astype("datetime64[us]").astype("int64")
               for u, g in cks.groupby("user_id")}
    gaps = []
    for _, r in views.iterrows():
        ct = by_user.get(r["user_id"])
        if ct is None:
            continue
        vt = np.datetime64(r["ts"], "us").astype("int64")
        inwin = ct[(ct >= vt) & (ct <= vt + 3600000000)]
        if len(inwin):
            gaps.append((int(inwin.min()) - int(vt)) / 1000000.0)
    gaps.sort()
    n = len(gaps)
    p50 = gaps[math.ceil(0.5 * n) - 1]
    p90 = gaps[math.ceil(0.9 * n) - 1]
    row = dump(spark_out, "q165_time_to_convert").iloc[0]
    errs = []
    if int(row["n_converted_views"]) != n or \
       not close(row["p50_s"], p50, 1e-9) or \
       not close(row["p90_s"], p90, 1e-9):
        errs.append(f"({row['n_converted_views']},{row['p50_s']},"
                    f"{row['p90_s']}) != ({n},{p50},{p90})")
    return errs


def check_q103_cms(con, sf_dir, spark_out):
    toks = _doc_tokens(con, sf_dir)
    freq = {}
    total = 0
    for tk in toks.values():
        for w in tk:
            freq[w] = freq.get(w, 0) + 1
            total += 1
    threshold = (total + 499) // 500
    heavy = {w: c for w, c in freq.items() if c >= threshold}
    got = dump(spark_out, "q103_cms_heavy").set_index("word")
    errs = []
    if len(got) != len(heavy):
        errs.append(f"heavy-hitter count {len(got)} != {len(heavy)}")
    for w, c in heavy.items():
        if w not in got.index or int(got.loc[w, "n"]) != c:
            errs.append(f"word '{w}': mismatch")
    return errs


def check_q234_kmv(con, sf_dir, spark_out, k=32):
    import hashlib
    ev = load(con, sf_dir, "events", "event_type, user_id")
    got = dump(spark_out, "q234_kmv_sketch").set_index("event_type")
    errs = []
    for et, g in ev.groupby("event_type"):
        users = set(g["user_id"].astype(int))
        hashes = sorted({int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16)
                         for u in users})
        row = got.loc[et]
        if int(row["exact_users"]) != len(users):
            errs.append(f"{et}: exact count mismatch")
        if len(hashes) >= k:
            est = (k - 1) * 4294967296.0 / hashes[k - 1]
            if not close(row["kmv_estimate"], est, 6e-5):
                errs.append(f"{et}: kmv {row['kmv_estimate']}"
                            f" vs {est:.6f}")
        # sketch-quality contract: the estimate should be within ~50% of
        # exact for k=32 (rsd ~ 1/sqrt(k-2) ≈ 18%)
        if len(hashes) >= k and \
           abs(row["kmv_estimate"] - len(users)) > 0.5 * len(users):
            errs.append(f"{et}: kmv estimate off by >50%")
    return errs


def check_q109_wsample(con, sf_dir, spark_out, k=50):
    import hashlib
    docs = load(con, sf_dir, "documents", "doc_id, lang, n_chars")
    rows = []
    for _, r in docs.iterrows():
        b = int(hashlib.md5(str(int(r["doc_id"])).encode()).hexdigest()[:3],
                16)
        u = (b + 1) / 4096.0
        key = spark_round(u ** (1.0 / int(r["n_chars"])), 6)
        rows.append((key, int(r["doc_id"]), r["lang"], int(r["n_chars"])))
    top = sorted(rows, key=lambda t: (-t[0], t[1]))[:k]
    got = dump(spark_out, "q109_weighted_sample")
    got = got.sort_values(["key_r", "doc_id"], ascending=[False, True])
    errs = []
    for (key, d, lang, nc), (_, row) in zip(top, got.iterrows()):
        if int(row["doc_id"]) != d or not close(row["key_r"], key, 1e-9):
            errs.append(f"doc {d}: A-Res key mismatch")
    if len(got) != k:
        errs.append(f"row count {len(got)} != {k}")
    return errs


def check_q62_hsample(con, sf_dir, spark_out):
    import hashlib
    docs = load(con, sf_dir, "documents", "doc_id, lang")
    exp = {}
    for _, r in docs.iterrows():
        b = int(hashlib.md5(str(int(r["doc_id"])).encode()).hexdigest()[:3],
                16)
        rate = {"en": 1024, "de": 2048}.get(r["lang"], 410)
        if b < rate:
            exp[int(r["doc_id"])] = b
    got = dump(spark_out, "q62_hash_sample").set_index("doc_id")
    errs = []
    if len(got) != len(exp):
        errs.append(f"sample size {len(got)} != {len(exp)}")
    for d, b in exp.items():
        if d not in got.index or int(got.loc[d, "bucket"]) != b:
            errs.append(f"doc {d}: mismatch")
    return errs


def check_q152_negsample(con, sf_dir, spark_out, k=3):
    import hashlib
    ck = clicks(con, sf_dir)[["userId", "newsId"]].drop_duplicates()
    clicked = {(int(u), int(n)) for u, n in zip(ck["userId"], ck["newsId"])}
    users = sorted({u for u, _ in clicked})
    news = sorted({n for _, n in clicked})
    got = dump(spark_out, "q152_negative_sampling").set_index(
        ["user_id", "rk"])
    errs = []
    cnt = 0
    for u in users:
        cands = [(hashlib.md5(f"{u}:{n}".encode()).hexdigest(), n)
                 for n in news if (u, n) not in clicked]
        top = sorted(cands)[:k]
        for rk, (_, n) in enumerate(top, 1):
            cnt += 1
            if int(got.loc[(u, rk), "neg_news"]) != n:
                errs.append(f"user {u} rk {rk}: mismatch")
    if len(got) != cnt:
        errs.append(f"row count {len(got)} != {cnt}")
    return errs


def check_q153_fhash(con, sf_dir, spark_out, buckets=64):
    import hashlib
    toks = _doc_tokens(con, sf_dir)
    exp = {}
    for d, tk in toks.items():
        for w in tk:
            b = int(hashlib.md5(w.encode()).hexdigest()[:3], 16) % buckets
            exp[(d, b)] = exp.get((d, b), 0) + 1
    got = dump(spark_out, "q153_feature_hashing").set_index(
        ["doc_id", "bucket"])
    errs = []
    if len(got) != len(exp):
        errs.append(f"cell count {len(got)} != {len(exp)}")
    bad = sum(1 for key, n in exp.items()
              if key not in got.index or int(got.loc[key, "n"]) != n)
    if bad:
        errs.append(f"{bad}/{len(exp)} hashed-feature cells differ")
    return errs


def check_q169_concurrency(con, sf_dir, spark_out, gap=1800):
    ev = load(con, sf_dir, "events", "user_id, event_id, ts")
    intervals = []
    for uid, grp in ev.groupby("user_id"):
        g = grp.sort_values(["ts", "event_id"])
        t = g["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        start = prev = None
        for tt in t:
            if prev is None or tt - prev >= gap * 1000000:
                if start is not None:
                    intervals.append((start, prev))
                start = tt
            prev = tt
        intervals.append((start, prev))
    deltas = [(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals]
    # sweep order: time asc, starts (+1) before ends (-1) at equal time
    deltas.sort(key=lambda t: (t[0], -t[1]))
    open_c = best = 0
    for _, d in deltas:
        open_c += d
        best = max(best, open_c)
    row = dump(spark_out, "q169_max_concurrency").iloc[0]
    errs = []
    if int(row["n_boundaries"]) != len(deltas) or \
       int(row["max_concurrent"]) != best:
        errs.append(f"({row['n_boundaries']},{row['max_concurrent']})"
                    f" != ({len(deltas)},{best})")
    return errs


def check_q105_paths(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events",
              "user_id, CAST(ts AS DATE) AS day, ts, event_id, event_type")
    stages = {}
    for _, grp in ev.groupby(["user_id", "day"]):
        g = grp.sort_values(["ts", "event_id"])
        st = 0
        for t in g["event_type"]:
            if st == 0 and t == "view":
                st = 1
            elif st == 1 and t == "click":
                st = 2
            elif st == 2 and t == "purchase":
                st = 3
        stages[st] = stages.get(st, 0) + 1
    got = dump(spark_out, "q105_conversion_paths").set_index("stage")
    errs = []
    if len(got) != len(stages):
        errs.append(f"stage count {len(got)} != {len(stages)}")
    for st, n in stages.items():
        if st not in got.index or int(got.loc[st, "n_user_days"]) != n:
            errs.append(f"stage {st}: mismatch")
    return errs


def _distinct_shingles(toks, w):
    return {d: {" ".join(tk[i:i + w]) for i in range(len(tk) - w + 1)}
            for d, tk in toks.items() if len(tk) >= w}


def check_q93_boiler(con, sf_dir, spark_out, w=8):
    toks = _doc_tokens(con, sf_dir)
    sh = _distinct_shingles(toks, w)
    df = {}
    for s in sh.values():
        for g in s:
            df[g] = df.get(g, 0) + 1
    got = dump(spark_out, "q93_boilerplate").set_index("doc_id")
    errs = []
    bad = 0
    for d, s in sh.items():
        n_common = sum(1 for g in s if df[g] >= 3)
        row = got.loc[d]
        if int(row["n_shingles"]) != len(s) or \
           int(row["n_common"]) != n_common or \
           not close(row["boiler_share"],
                     spark_round(n_common / len(s), 6), 1e-9):
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(sh)} boilerplate rows differ")
    if len(got) != len(sh):
        errs.append(f"doc count {len(got)} != {len(sh)}")
    return errs


def check_q94_decontam(con, sf_dir, spark_out, w=5, mod=97):
    toks = _doc_tokens(con, sf_dir)
    sh = _distinct_shingles(toks, w)
    bench = set()
    for d, s in sh.items():
        if d % mod == 0:
            bench |= s
    got = dump(spark_out, "q94_decontam").set_index("doc_id")
    errs = []
    n = 0
    bad = 0
    for d, s in sh.items():
        if d % mod == 0:
            continue
        n += 1
        hit = sum(1 for g in s if g in bench)
        ov = spark_round(hit / len(s), 6)
        row = got.loc[d]
        if int(row["n_grams"]) != len(s) or int(row["n_hit"]) != hit or \
           not close(row["overlap"], ov, 1e-9) or \
           bool(row["contaminated"]) != (ov >= 0.05):
            bad += 1
    if bad:
        errs.append(f"{bad}/{n} decontam rows differ")
    if len(got) != n:
        errs.append(f"doc count {len(got)} != {n}")
    return errs


def check_q96_langmix(con, sf_dir, spark_out):
    import hashlib
    docs = load(con, sf_dir, "documents", "doc_id, lang, n_chars")
    nl = docs.groupby("lang").size().to_dict()
    n_tot = float(len(docs))
    s_w = spark_round(sum(math.sqrt(v) for v in nl.values()), 6)
    caps = {lg: int(min(1.0, math.sqrt(v) / s_w * (n_tot / 2.0) / v) * 4096)
            for lg, v in nl.items()}
    got = dump(spark_out, "q96_lang_mix").set_index("lang")
    errs = []
    for lg, v in nl.items():
        kept = chars = 0
        for _, r in docs[docs["lang"] == lg].iterrows():
            b = int(hashlib.md5(str(int(r["doc_id"])).encode())
                    .hexdigest()[:3], 16)
            if b < caps[lg]:
                kept += 1
                chars += int(r["n_chars"])
        row = got.loc[lg]
        if int(row["n_before"]) != v or \
           not close(row["rate"], spark_round(caps[lg] / 4096.0, 6), 1e-9) or \
           int(row["n_after"]) != kept or int(row["kept_chars"]) != chars:
            errs.append(f"{lg}: lang-mix mismatch")
    return errs


def check_q229_oov(con, sf_dir, spark_out, vsize=1000):
    toks = _doc_tokens(con, sf_dir)
    freq = {}
    for tk in toks.values():
        for w in tk:
            freq[w] = freq.get(w, 0) + 1
    vocab = {w for w, _ in
             sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:vsize]}
    got = dump(spark_out, "q229_vocab_oov").set_index("doc_id")
    errs = []
    bad = 0
    for d, tk in toks.items():
        oov = sum(1 for w in tk if w not in vocab)
        row = got.loc[d]
        if int(row["n_tokens"]) != len(tk) or int(row["n_oov"]) != oov or \
           not close(row["oov_rate"], spark_round(oov / len(tk), 6), 1e-9):
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(toks)} OOV rows differ")
    return errs


def check_q230_mix(con, sf_dir, spark_out):
    docs = load(con, sf_dir, "documents", "source")
    nd = docs.groupby("source").size().to_dict()
    tot = len(docs)
    idx = {s: int(re.search(r"([0-9]+)$", s).group(1)) for s in nd}
    tsum = sum(i + 1 for i in idx.values())
    got = dump(spark_out, "q230_mix_weights").set_index("source")
    errs = []
    for s, n in nd.items():
        act = spark_round(n / tot, 6)
        tgt = spark_round((idx[s] + 1) / tsum, 6)
        wt = spark_round(min(tgt / act, 3.0), 6)
        row = got.loc[s]
        if int(row["n_docs"]) != n or \
           not close(row["actual_share"], act, 1e-9) or \
           not close(row["target_share"], tgt, 1e-9) or \
           not close(row["weight"], wt, 1e-9):
            errs.append(f"{s}: mix weights mismatch")
    return errs


def check_q239_lmq(con, sf_dir, spark_out):
    # rebuild q123's per-doc avg_logp, then decile by (avg_logp, doc_id)
    toks = _doc_tokens(con, sf_dir)
    per_doc = {}
    c2 = {}
    c1 = {}
    for d, tk in toks.items():
        if len(tk) < 2:
            continue
        bg = {}
        for a, b in zip(tk, tk[1:]):
            bg[(a, b)] = bg.get((a, b), 0) + 1
        per_doc[d] = bg
        for (a, b), k in bg.items():
            c2[(a, b)] = c2.get((a, b), 0) + k
            c1[a] = c1.get(a, 0) + k
    vocab = len({w for tk in toks.values() for w in tk})
    scores = []
    for d, bg in per_doc.items():
        n = sum(bg.values())
        lp = sum(k * math.log((c2[p] + 1) / (c1[p[0]] + vocab))
                 for p, k in bg.items())
        scores.append((spark_round(lp / n, 6), d))
    scores.sort()
    nr = len(scores)
    deciles = {}
    for rank, (lp, d) in enumerate(scores, 1):
        deciles.setdefault(_ntile(nr, 10, rank), []).append(lp)
    got = dump(spark_out, "q239_lm_quality").set_index("decile")
    errs = []
    for dec, lps in deciles.items():
        row = got.loc[dec]
        if int(row["n_docs"]) != len(lps) or \
           not close(row["min_logp"], min(lps), 1e-9) or \
           not close(row["max_logp"], max(lps), 1e-9) or \
           bool(row["filtered"]) != (dec == 1):
            errs.append(f"decile {dec}: mismatch")
    return errs


def check_q255_mix_sample(con, sf_dir, spark_out, cap_micros=3000000):
    import hashlib
    docs = load(con, sf_dir, "documents", "doc_id, source")
    nd = docs.groupby("source").size().to_dict()
    tot = sum(nd.values())
    idx = {s: int(re.search(r"([0-9]+)$", s).group(1)) for s in nd}
    tsum = sum(i + 1 for i in idx.values())
    wu = {s: min(half_up_ratio((idx[s] + 1) * tot * 1000000,
                               tsum * n, 0), cap_micros)
          for s, n in nd.items()}
    got = dump(spark_out, "q255_mix_sample").set_index("doc_id")
    errs = []
    bad = 0
    for _, r in docs.iterrows():
        d = int(r["doc_id"])
        w = int(wu[r["source"]])
        draw = int(hashlib.md5(str(d).encode()).hexdigest()[:6], 16) % 1000000
        n_rep = w // 1000000 + (1 if draw < w % 1000000 else 0)
        if int(got.loc[d, "n_rep"]) != n_rep:
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(docs)} replication counts differ")
    return errs


def check_q257_funnel(con, sf_dir, spark_out):
    stop = set(SHARED["signal_stopwords"])
    toks = _doc_tokens(con, sf_dir)
    kills = {}
    for tk in toks.values():
        n = len(tk)
        sl = sum(len(w) for w in tk)
        counts = {}
        for w in tk:
            counts[w] = counts.get(w, 0) + 1
        topk = max(counts.values()) if counts else 0
        uq = len(counts)
        ns = len(set(tk) & stop)
        if not (20 <= n <= 90):
            ff = 1
        elif sl * 100 < n * 425:
            ff = 2
        elif topk * 10 > n:
            ff = 3
        elif uq * 10 < n * 4:
            ff = 4
        elif ns < 1:
            ff = 5
        else:
            ff = 0
        kills[ff] = kills.get(ff, 0) + 1
    total = sum(kills.values())
    got = dump(spark_out, "q257_rule_funnel").set_index("rule")
    errs = []
    surv = total
    for rule in range(1, 6):
        killed = kills.get(rule, 0)
        surv -= killed
        row = got.loc[rule]
        if int(row["n_killed"]) != killed or int(row["n_surviving"]) != surv:
            errs.append(f"rule {rule}: ({row['n_killed']},"
                        f"{row['n_surviving']}) != ({killed},{surv})")
    return errs


def check_q122_chunks(con, sf_dir, spark_out, chunk=64, stride=48):
    import hashlib
    toks = _doc_tokens(con, sf_dir)
    got = dump(spark_out, "q122_doc_chunks").set_index(["doc_id", "chunk_idx"])
    errs = []
    n = 0
    bad = 0
    for d, tk in toks.items():
        if not tk:
            continue
        for ci in range((len(tk) - 1) // stride + 1):
            ck = tk[ci * stride:ci * stride + chunk]
            n += 1
            row = got.loc[(d, ci)]
            if int(row["n_tokens"]) != len(ck) or row["chunk_hash"] != \
               hashlib.md5(" ".join(ck).encode()).hexdigest():
                bad += 1
    if bad:
        errs.append(f"{bad}/{n} chunks differ")
    if len(got) != n:
        errs.append(f"chunk count {len(got)} != {n}")
    return errs


def check_q199_pipeline(con, sf_dir, spark_out):
    import hashlib
    docs = load(con, sf_dir, "documents", "doc_id, lang, n_chars, text")
    docs = docs.sort_values("doc_id")
    seen_exact = set()
    seen_near = set()
    agg = {}
    for _, r in docs.iterrows():
        tk = tokenize(r["text"])
        nc = int(r["n_chars"])
        if not (200 <= nc <= 20000) or len(set(tk)) * 10 < len(tk) * 3:
            continue
        he = hashlib.md5(r["text"].encode()).hexdigest()
        if he in seen_exact:
            continue
        seen_exact.add(he)
        hn = hashlib.md5(" ".join(sorted(set(tk))).encode()).hexdigest()
        if hn in seen_near:
            continue
        seen_near.add(hn)
        ndocs, ntok, nch = agg.get(r["lang"], (0, 0, 0))
        agg[r["lang"]] = (ndocs + 1, ntok + len(tk),
                          nch + (len(tk) + 511) // 512)
    got = dump(spark_out, "q199_curation_pipeline").set_index("lang")
    errs = []
    for lg, (ndocs, ntok, nch) in agg.items():
        row = got.loc[lg]
        if int(row["n_docs"]) != ndocs or int(row["n_tokens"]) != ntok or \
           int(row["n_chunks"]) != nch:
            errs.append(f"{lg}: pipeline rollup mismatch")
    return errs


def check_q80_splits(con, sf_dir, spark_out):
    import hashlib
    docs = load(con, sf_dir, "documents", "doc_id, lang, n_chars")
    cells = {}
    for _, r in docs.iterrows():
        b = int(hashlib.md5(str(int(r["doc_id"])).encode())
                .hexdigest()[:3], 16) % 10
        split = "train" if b < 8 else ("val" if b == 8 else "test")
        nd, sc = cells.get((r["lang"], split), (0, 0))
        cells[(r["lang"], split)] = (nd + 1, sc + int(r["n_chars"]))
    got = dump(spark_out, "q80_split_stats").set_index(["lang", "split"])
    errs = []
    if len(got) != len(cells):
        errs.append(f"cell count {len(got)} != {len(cells)}")
    for key, (nd, sc) in cells.items():
        row = got.loc[key]
        if int(row["n_docs"]) != nd or int(row["sum_chars"]) != sc:
            errs.append(f"{key}: split stats mismatch")
    return errs


def check_q81_pareto(con, sf_dir, spark_out):
    o = load(con, sf_dir, "orders",
             "o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS DATE) AS d")
    keep = set()
    for _, g in o.groupby("o_custkey"):
        rows = list(zip(g["o_orderkey"].astype(int),
                        g["o_totalprice"], pd.to_datetime(g["d"])))
        for k1, p1, d1 in rows:
            dominated = any(
                p2 >= p1 and d2 >= d1 and (p2 > p1 or d2 > d1)
                for _, p2, d2 in rows)
            if not dominated:
                keep.add(k1)
    got = dump(spark_out, "q81_pareto")
    errs = []
    if len(got) != len(keep):
        errs.append(f"frontier size {len(got)} != {len(keep)}")
    if set(got["o_orderkey"].astype(int)) != keep:
        errs.append("frontier membership differs")
    return errs


def check_q89_buckets(con, sf_dir, spark_out):
    o = load(con, sf_dir, "orders", "o_totalprice AS p")
    o["bucket"] = (o["p"] // 50000 + 1).astype(int)
    got = dump(spark_out, "q89_value_buckets").set_index("bucket")
    errs = []
    for bk, g in o.groupby("bucket"):
        row = got.loc[bk]
        if int(row["n"]) != len(g) or \
           not close(row["sum_price"], spark_round(g["p"].sum(), 2), 2e-6):
            errs.append(f"bucket {bk}: mismatch")
    return errs


def check_q92_hist(con, sf_dir, spark_out, bins=20):
    ev = load(con, sf_dir, "events", "value")
    v = ev["value"].to_numpy(dtype=np.float64)
    lo, hi = v.min(), v.max()
    b = np.minimum(np.floor((v - lo) / ((hi - lo) / bins)), bins - 1)
    got = dump(spark_out, "q92_value_histogram").set_index("bin")
    errs = []
    exp = pd.Series(b.astype(int)).value_counts().to_dict()
    if len(got) != len(exp):
        errs.append(f"bin count {len(got)} != {len(exp)}")
    for bk, n in exp.items():
        if bk not in got.index or int(got.loc[bk, "n"]) != n:
            errs.append(f"bin {bk}: mismatch")
    return errs


def check_q111_centroids(con, sf_dir, spark_out):
    emb = load(con, sf_dir, "embeddings", "label, embedding")
    got = dump(spark_out, "q111_label_centroids").set_index(["label", "dim"])
    errs = []
    bad = 0
    for label, g in emb.groupby("label"):
        X = np.stack([np.asarray(e, dtype=np.float64) for e in g["embedding"]])
        cen = X.mean(axis=0)
        for dim, v in enumerate(cen):
            if not close(got.loc[(label, dim), "centroid"], v, 6e-7):
                bad += 1
    if bad:
        errs.append(f"{bad} centroid cells differ")
    return errs


def check_q112_mi(con, sf_dir, spark_out):
    docs = load(con, sf_dir, "documents", "lang, source")
    n = len(docs)
    cells = docs.groupby(["lang", "source"]).size()
    nl = docs.groupby("lang").size()
    ns = docs.groupby("source").size()
    mi = sum((c / n) * math.log(c * n / (nl[lg] * ns[src]))
             for (lg, src), c in cells.items())
    row = dump(spark_out, "q112_mi_contingency").iloc[0]
    errs = []
    if int(row["n_cells"]) != len(cells):
        errs.append(f"n_cells {row['n_cells']} != {len(cells)}")
    if not close(row["mi"], mi, 6e-7):
        errs.append(f"mi {row['mi']} vs textbook {mi:.9f}")
    return errs


def check_q148_curve(con, sf_dir, spark_out):
    ck = clicks(con, sf_dir)
    first = ck.groupby("userId")["date"].min()
    per_day = first.value_counts().sort_index()
    got = dump(spark_out, "q148_new_user_curve")
    got["day"] = pd.to_datetime(got["day"])
    got = got.set_index("day")
    errs = []
    cum = 0
    for day, n in per_day.items():
        cum += n
        row = got.loc[pd.Timestamp(day)]
        if int(row["n_new"]) != n or int(row["cum_users"]) != cum:
            errs.append(f"{day}: new-user curve mismatch")
    return errs


def check_q150_checksum(con, sf_dir, spark_out):
    import hashlib
    o = load(con, sf_dir, "orders",
             "o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
             "CAST(o_orderdate AS DATE) AS d, o_orderpriority")
    total = 0
    for _, r in o.iterrows():
        cents = int(spark_round(r["o_totalprice"] * 100, 0))
        # pandas renders the DATE column as a midnight Timestamp — format
        # explicitly to the yyyy-MM-dd both engines hash
        s = "|".join([str(int(r["o_orderkey"])), str(int(r["o_custkey"])),
                      r["o_orderstatus"], str(cents),
                      pd.Timestamp(r["d"]).strftime("%Y-%m-%d"),
                      r["o_orderpriority"]])
        total += int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
    row = dump(spark_out, "q150_table_checksum").iloc[0]
    errs = []
    if int(row["n_rows"]) != len(o) or int(row["checksum"]) != total:
        errs.append(f"({row['n_rows']},{row['checksum']})"
                    f" != ({len(o)},{total})")
    return errs


def check_q154_loo(con, sf_dir, spark_out):
    o = load(con, sf_dir, "orders",
             "o_orderkey, o_orderpriority AS pr, o_totalprice AS p")
    stats = o.groupby("pr")["p"].agg(["sum", "size"])
    got = dump(spark_out, "q154_target_encoding").set_index("o_orderkey")
    errs = []
    bad = 0
    for _, r in o.iterrows():
        s, n = stats.loc[r["pr"], "sum"], stats.loc[r["pr"], "size"]
        loo = spark_round((s - r["p"]) / (n - 1), 4)
        if not close(got.loc[int(r["o_orderkey"]), "loo_mean"], loo, 2e-4):
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(o)} LOO means differ")
    return errs


def check_q162_geo(con, sf_dir, spark_out):
    """Vectorized grid-accelerated haversine: one pandas merge per 3x3
    cell offset with numpy haversine on the candidate block, instead of
    the per-point python loop that timed out at sf1's 900 s per-lane cap
    (VERDICT r10 task 3). Same cells, same pair set, same rounding."""
    cust = load(con, sf_dir, "customer", "c_custkey AS id")
    ids = cust["id"].astype(int).to_numpy()
    # r9 synthesis: id pairs (2k, 2k+1) share a base point 0.1 deg apart so
    # the lane emits rows at every gate scale (VERDICT r8 finding 3)
    lat = (((ids // 2) * 37) % 300) / 10.0 - 15.0 + (ids % 2) * 0.1
    lon = (((ids // 2) * 73) % 600) / 10.0 + (ids % 2) * 0.1
    got = dump(spark_out, "q162_geo_bucket_join").set_index(["ida", "idb"])
    pts = pd.DataFrame({"id": ids, "lat": lat, "lon": lon,
                        "cx": np.floor(lat).astype(int),
                        "cy": np.floor(lon).astype(int)})
    parts = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            right = pts.rename(columns={c: c + "_b" for c in pts.columns})
            right["cx"] = right["cx_b"] - dx
            right["cy"] = right["cy_b"] - dy
            m = pts.merge(right, on=["cx", "cy"])
            m = m[m["id"] < m["id_b"]]
            if m.empty:
                continue
            la1 = np.radians(m["lat"].to_numpy())
            lo1 = np.radians(m["lon"].to_numpy())
            la2 = np.radians(m["lat_b"].to_numpy())
            lo2 = np.radians(m["lon_b"].to_numpy())
            dkm = 12742.0 * np.arcsin(np.sqrt(
                np.sin((la2 - la1) / 2) ** 2 +
                np.cos(la1) * np.cos(la2) * np.sin((lo2 - lo1) / 2) ** 2))
            # loose pre-filter on the raw value; the exact <= 40.0 cut is
            # applied after rounding
            keep = dkm <= 40.0005
            parts.append(pd.DataFrame({
                "ida": m["id"].to_numpy()[keep],
                "idb": m["id_b"].to_numpy()[keep],
                "raw": dkm[keep]}))
    exp = pd.concat(parts, ignore_index=True)
    # Vectorized binary HALF_UP for the bulk; Spark's decimal-string
    # HALF_UP (spark_round) only where the two can disagree — raw values
    # within 1e-9 of a .0005 tie boundary (the decimal-repr vs binary gap).
    scaled = exp["raw"].to_numpy() * 1000.0
    r = np.floor(scaled + 0.5) / 1000.0
    near_tie = np.abs(scaled - np.floor(scaled) - 0.5) < 1e-9
    if near_tie.any():
        raws = exp["raw"].to_numpy()
        r = r.copy()
        for i in np.flatnonzero(near_tie):
            r[i] = spark_round(raws[i], 3)
    exp["dist_exp"] = r
    exp = exp[exp["dist_exp"] <= 40.0]
    errs = []
    if len(got) != len(exp):
        errs.append(f"pair count {len(got)} != {len(exp)}")
    m = got.reset_index().merge(exp[["ida", "idb", "dist_exp"]],
                                on=["ida", "idb"], how="outer")
    bad = int(m["dist_km"].isna().sum() + m["dist_exp"].isna().sum() +
              (np.abs(m["dist_km"].to_numpy() -
                      m["dist_exp"].to_numpy()) > 1e-9).sum())
    if bad:
        errs.append(f"{bad}/{len(exp)} geo pairs differ")
    return errs


def check_q163_wow(con, sf_dir, spark_out):
    o = load(con, sf_dir, "orders", "CAST(o_orderdate AS DATE) AS d, "
             "o_totalprice AS p")
    o["week"] = pd.to_datetime(o["d"]).dt.to_period(
        "W-SUN").dt.start_time  # ISO Monday weeks (date_trunc('week'))
    weekly = o.groupby("week")["p"].sum().sort_index()
    got = dump(spark_out, "q163_wow_lift")
    got["week"] = pd.to_datetime(got["week"])
    got = got.set_index("week")
    errs = []
    prev = None
    n = 0
    for week, rev in weekly.items():
        if prev is not None:
            n += 1
            row = got.loc[week]
            if not close(row["revenue"], spark_round(rev, 2), 2e-6) or \
               not close(row["wow_lift"], rev / prev - 1, 6e-7):
                errs.append(f"{week.date()}: wow mismatch")
        prev = rev
    if len(got) != n:
        errs.append(f"row count {len(got)} != {n}")
    return errs


def check_q167_attr(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events", "user_id, event_id, ts, event_type")
    counts = {}
    for _, grp in ev.groupby("user_id"):
        g = grp.sort_values(["ts", "event_id"])
        t = g["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        last_touch = None  # (ts_us, type)
        for tt, et in zip(t, g["event_type"]):
            if et == "purchase":
                if last_touch is None or tt - last_touch[0] > 7 * 86400000000:
                    key = "none"
                else:
                    key = last_touch[1]
                counts[key] = counts.get(key, 0) + 1
            if et in ("click", "view"):
                last_touch = (tt, et)
    got = dump(spark_out, "q167_attribution").set_index("attributed_to")
    errs = []
    if len(got) != len(counts):
        errs.append(f"class count {len(got)} != {len(counts)}")
    for key, n in counts.items():
        if key not in got.index or int(got.loc[key, "n_purchases"]) != n:
            errs.append(f"{key}: mismatch")
    return errs


def check_q203_survivorship(con, sf_dir, spark_out):
    docs = load(con, sf_dir, "documents", "doc_id, lang, n_chars, text")
    groups = {}
    for _, r in docs.iterrows():
        fp = " ".join(sorted(set(tokenize(r["text"]))))
        groups.setdefault(fp, []).append(
            (int(r["doc_id"]), r["lang"], int(r["n_chars"])))
    agg = {}
    for rows in groups.values():
        keep = min(rows, key=lambda t: (-t[2], t[0]))
        min_id = min(t[0] for t in rows)
        nk, sc, nd = agg.get(keep[1], (0, 0, 0))
        agg[keep[1]] = (nk + 1, sc + keep[2],
                        nd + (1 if keep[0] != min_id else 0))
    got = dump(spark_out, "q203_survivorship").set_index("lang")
    errs = []
    for lg, (nk, sc, nd) in agg.items():
        row = got.loc[lg]
        if int(row["n_kept"]) != nk or int(row["sum_chars"]) != sc or \
           int(row["n_policy_differs"]) != nd:
            errs.append(f"{lg}: survivorship mismatch")
    return errs


def check_q205_srm(con, sf_dir, spark_out):
    import hashlib
    ev = load(con, sf_dir, "events", "user_id, event_type")
    ev["arm"] = ev["user_id"].map(
        lambda u: int(hashlib.md5(str(int(u)).encode()).hexdigest()[:3],
                      16) % 2)
    per = {}
    for arm, g in ev.groupby("arm"):
        per[arm] = (g["user_id"].nunique(), len(g),
                    int((g["event_type"] == "click").sum()))
    ua, ea, ca = per[0]
    ub, eb, cb = per[1]
    z = (ua - (ua + ub) / 2.0) / math.sqrt((ua + ub) * 0.25)
    row = dump(spark_out, "q205_ab_srm").iloc[0]
    errs = []
    if int(row["users_a"]) != ua or int(row["users_b"]) != ub or \
       not close(row["srm_z"], z, 6e-7) or \
       not close(row["ctr_a"], ca / ea, 6e-7) or \
       not close(row["ctr_b"], cb / eb, 6e-7):
        errs.append("SRM stats mismatch")
    return errs


def check_q206_stump(con, sf_dir, spark_out):
    o = load(con, sf_dir, "orders", "o_totalprice AS p, o_orderpriority AS pr")
    bins = np.minimum(np.floor(o["p"].to_numpy() / 30000), 19).astype(int)
    y = (o["pr"] == "1-URGENT").to_numpy().astype(int)
    n_b = {}
    p_b = {}
    for b, yy in zip(bins, y):
        n_b[b] = n_b.get(b, 0) + 1
        p_b[b] = p_b.get(b, 0) + yy
    tn, tp = len(o), int(y.sum())

    def ent(p, n):
        if p == 0 or p == n:
            return 0.0
        q = p / n
        return -(q * math.log(q) + (1 - q) * math.log(1 - q))

    best = None
    cn = cp = 0
    for b in sorted(n_b):
        cn += n_b[b]
        cp += p_b[b]
        if cn >= tn:
            continue
        gain = spark_round(
            ent(tp, tn) - (cn / tn) * ent(cp, cn)
            - ((tn - cn) / tn) * ent(tp - cp, tn - cn), 6)
        if best is None or (gain, -b) > (best[1], -best[0]):
            best = (b, gain)
    row = dump(spark_out, "q206_stump_split").iloc[0]
    errs = []
    if int(row["best_split_bin"]) != best[0] or \
       not close(row["gain"], best[1], 1e-9):
        errs.append(f"({row['best_split_bin']},{row['gain']}) != {best}")
    return errs


def check_q212_pct(con, sf_dir, spark_out):
    df = con.execute(
        f"""SELECT r_name, n_name, sum(o_totalprice) AS rev
            FROM read_parquet('{tbl(sf_dir, 'orders')}') o
            JOIN read_parquet('{tbl(sf_dir, 'customer')}') c
              ON o.o_custkey = c.c_custkey
            JOIN read_parquet('{tbl(sf_dir, 'nation')}') n
              ON c.c_nationkey = n.n_nationkey
            JOIN read_parquet('{tbl(sf_dir, 'region')}') r
              ON n.n_regionkey = r.r_regionkey
            GROUP BY 1, 2"""
    ).df()
    tot = df["rev"].sum()
    reg = df.groupby("r_name")["rev"].sum()
    got = dump(spark_out, "q212_pct_of_parent").set_index(["r_name", "n_name"])
    errs = []
    for _, r in df.iterrows():
        row = got.loc[(r["r_name"], r["n_name"])]
        if not close(row["revenue"], spark_round(r["rev"], 2), 2e-6) or \
           not close(row["pct_of_region"], r["rev"] / reg[r["r_name"]],
                     6e-7) or \
           not close(row["pct_of_total"], r["rev"] / tot, 6e-7):
            errs.append(f"({r['r_name']},{r['n_name']}): pct mismatch")
    return errs


def check_q213_calibration(con, sf_dir, spark_out):
    ck = clicks(con, sf_dir)
    daily = ck.groupby(["newsId", "date"]).size()
    series = []
    for nid, s in daily.groupby(level=0):
        c = s.sort_index(level=1).to_numpy(dtype=np.float64)
        if len(c) < 2:
            continue
        ew = c[0]
        for x in c[1:-1]:
            ew = 0.3 * x + 0.7 * ew
        series.append((spark_round(ew, 6), int(nid), c[-1]))
    series.sort(key=lambda t: (t[0], t[1]))
    nr = len(series)
    buckets = {}
    for rank, (pred, nid, actual) in enumerate(series, 1):
        buckets.setdefault(_ntile(nr, 5, rank), []).append((pred, actual))
    got = dump(spark_out, "q213_forecast_calibration").set_index("bucket")
    errs = []
    for bk, vals in buckets.items():
        row = got.loc[bk]
        ap = sum(p for p, _ in vals) / len(vals)
        aa = sum(a for _, a in vals) / len(vals)
        if int(row["n_series"]) != len(vals) or \
           not close(row["avg_pred"], ap, 6e-7) or \
           not close(row["avg_actual"], aa, 6e-7):
            errs.append(f"bucket {bk}: calibration mismatch")
    return errs


def check_q216_ltv(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events",
              "user_id, CAST(ts AS DATE) AS day, event_type, value")
    ev["day"] = pd.to_datetime(ev["day"])
    cohort = ev.groupby("user_id")["day"].min()
    purch = ev[ev["event_type"] == "purchase"].copy()
    purch["cohort"] = purch["user_id"].map(cohort)
    purch["age"] = (purch["day"] - purch["cohort"]).dt.days
    rev = purch.groupby(["cohort", "age"])["value"].sum()
    got = dump(spark_out, "q216_cohort_ltv")
    got["cohort"] = pd.to_datetime(got["cohort"])
    got = got.set_index(["cohort", "age"])
    errs = []
    if len(got) != len(rev):
        errs.append(f"cell count {len(got)} != {len(rev)}")
    for co, g in rev.groupby(level=0):
        cum = 0.0
        for (c, age), r in g.sort_index().items():
            cum += r
            row = got.loc[(co, age)]
            if not close(row["revenue"], spark_round(r, 2), 2e-6) or \
               not close(row["cum_revenue"], spark_round(cum, 2), 2e-6):
                errs.append(f"({co.date()},{age}): LTV mismatch")
    return errs


def check_q243_rollup(con, sf_dir, spark_out):
    docs = load(con, sf_dir, "documents", "doc_id, lang, source, n_chars")
    agg = {}
    for _, r in docs.iterrows():
        for p in ("root", f"root/{r['lang']}",
                  f"root/{r['lang']}/{r['source']}"):
            nd, sc = agg.get(p, (0, 0))
            agg[p] = (nd + 1, sc + int(r["n_chars"]))
    got = dump(spark_out, "q243_path_rollup").set_index("path")
    errs = []
    if len(got) != len(agg):
        errs.append(f"path count {len(got)} != {len(agg)}")
    for p, (nd, sc) in agg.items():
        row = got.loc[p]
        if int(row["n_docs"]) != nd or int(row["sum_chars"]) != sc:
            errs.append(f"{p}: rollup mismatch")
    return errs


def check_q13_tokens(con, sf_dir, spark_out):
    toks = _doc_tokens(con, sf_dir)
    got = dump(spark_out, "q13_token_stats").set_index("doc_id")
    errs = []
    bad = sum(1 for d, tk in toks.items()
              if int(got.loc[d, "n_tokens"]) != len(tk) or
              int(got.loc[d, "n_distinct"]) != len(set(tk)))
    if bad:
        errs.append(f"{bad}/{len(toks)} token stats differ")
    return errs


def check_q16_langstats(con, sf_dir, spark_out):
    docs = load(con, sf_dir, "documents", "lang, n_chars, text")
    got = dump(spark_out, "q16_lang_stats").set_index("lang")
    errs = []
    for lg, g in docs.groupby("lang"):
        ntk = [len(tokenize(t)) for t in g["text"]]
        row = got.loc[lg]
        if int(row["n_docs"]) != len(g) or \
           not close(row["avg_chars"],
                     half_up_ratio(int(g["n_chars"].sum()) * 10000,
                                   len(g), 4), 1e-9) or \
           not close(row["avg_tokens"],
                     half_up_ratio(sum(ntk) * 10000, len(g), 4), 1e-9):
            errs.append(f"{lg}: lang stats mismatch")
    return errs


def check_q17_wordfreq(con, sf_dir, spark_out, k=20):
    toks = _doc_tokens(con, sf_dir)
    freq = {}
    for tk in toks.values():
        for w in tk:
            freq[w] = freq.get(w, 0) + 1
    top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    got = dump(spark_out, "q17_word_freq").sort_values("rn")
    errs = []
    for (w, n), (_, row) in zip(top, got.iterrows()):
        if row["word"] != w or int(row["n"]) != n:
            errs.append(f"rank {row['rn']}: ({row['word']},{row['n']})"
                        f" != ({w},{n})")
    return errs


def check_q20_users(con, sf_dir, spark_out):
    ck = clicks(con, sf_dir)
    got = dump(spark_out, "q20_unique_users")
    got["date"] = pd.to_datetime(got["date"])
    got = got.set_index("date")
    errs = []
    for day, g in ck.groupby("date"):
        exp = ",".join(str(u) for u in sorted(set(g["userId"].astype(int))))
        if got.loc[pd.Timestamp(day), "users"] != exp:
            errs.append(f"{day}: user list differs")
    return errs


def _scd2_py(con, sf_dir):
    ev = load(con, sf_dir, "events", "user_id, event_id, ts, event_type")
    out = []   # (user, type, from_us, to_us|None, version)
    for uid, grp in ev.groupby("user_id"):
        g = grp.sort_values(["ts", "event_id"])
        t = g["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        changes = []
        prev = None
        for tt, et in zip(t, g["event_type"]):
            if prev is None or et != prev:
                changes.append((tt, et))
            prev = et
        for i, (tt, et) in enumerate(changes):
            to = changes[i + 1][0] if i + 1 < len(changes) else None
            out.append((int(uid), et, tt, to, i + 1))
    return out, ev


def check_q78_scd2(con, sf_dir, spark_out):
    rows, _ = _scd2_py(con, sf_dir)
    got = dump(spark_out, "q78_scd2").set_index(["user_id", "version"])
    errs = []
    if len(got) != len(rows):
        errs.append(f"version count {len(got)} != {len(rows)}")
    bad = 0
    for uid, et, f, to, v in rows:
        row = got.loc[(uid, v)]
        gf = int(pd.Timestamp(row["valid_from"]).value // 1000)
        gt = None if pd.isna(row["valid_to"]) else \
            int(pd.Timestamp(row["valid_to"]).value // 1000)
        if row["event_type"] != et or gf != f or gt != to:
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(rows)} SCD2 versions differ")
    return errs


def check_q87_temporal(con, sf_dir, spark_out):
    rows, ev = _scd2_py(con, sf_dir)
    by_user = {}
    for uid, et, f, to, v in rows:
        by_user.setdefault(uid, []).append((f, to, v, et))
    got = dump(spark_out, "q87_temporal_join").set_index(
        ["user_id", "event_id"])
    errs = []
    n = 0
    bad = 0
    for _, r in ev.iterrows():
        tt = int(np.datetime64(r["ts"], "us").astype("int64"))
        uid = int(r["user_id"])
        for f, to, v, et in by_user.get(uid, ()):
            if f <= tt and (to is None or tt < to):
                n += 1
                row = got.loc[(uid, int(r["event_id"]))]
                if int(row["version"]) != v or row["state_type"] != et or \
                   row["ev_type"] != r["event_type"]:
                    bad += 1
    if bad:
        errs.append(f"{bad}/{n} temporal matches differ")
    if len(got) != n:
        errs.append(f"row count {len(got)} != {n}")
    return errs


def check_q86_sliding(con, sf_dir, spark_out):
    ck = load(con, sf_dir, "events", "user_id, ts",
              "event_type = 'click'")
    ck["day"] = pd.to_datetime(ck["ts"]).dt.floor("D")
    wins = {}
    for _, r in ck.iterrows():
        for off in (0, 1):
            ws = r["day"] - pd.Timedelta(days=off)
            cnt, users = wins.get(ws, (0, set()))
            users = users | {int(r["user_id"])}
            wins[ws] = (cnt + 1, users)
    got = dump(spark_out, "q86_sliding_windows")
    got["win_start"] = pd.to_datetime(got["win_start"])
    got = got.set_index("win_start")
    errs = []
    if len(got) != len(wins):
        errs.append(f"window count {len(got)} != {len(wins)}")
    for ws, (cnt, users) in wins.items():
        row = got.loc[ws]
        if int(row["n_clicks"]) != cnt or int(row["n_users"]) != len(users):
            errs.append(f"{ws.date()}: window counts mismatch")
    return errs


def check_q137_share(con, sf_dir, spark_out):
    li = load(con, sf_dir, "lineitem",
              "l_returnflag AS rf, l_linestatus AS ls, "
              "l_extendedprice AS p, l_discount AS dc")
    units = {}
    for (rf, ls), g in li.groupby(["rf", "ls"]):
        cents = np.rint(g["p"].to_numpy() * 100).astype(np.int64)
        dcents = np.rint(g["dc"].to_numpy() * 100).astype(np.int64)
        units[(rf, ls)] = int((cents * (100 - dcents)).sum())
    tot = sum(units.values())
    by_flag = {}
    for (rf, _), u in units.items():
        by_flag[rf] = by_flag.get(rf, 0) + u
    got = dump(spark_out, "q137_share_of_total").set_index(["l_returnflag",
                                                            "l_linestatus"])
    errs = []
    for key, u in units.items():
        row = got.loc[key]
        rev = ((u + 50) - (u + 50) % 100) / 100 / 100.0
        if not close(row["revenue"], rev, 1e-9) or \
           not close(row["share_flag"], u / by_flag[key[0]], 6e-7) or \
           not close(row["share_total"], u / tot, 6e-7):
            errs.append(f"{key}: share mismatch")
    return errs


def check_q181_skew(con, sf_dir, spark_out, k=10):
    li = load(con, sf_dir, "lineitem", "l_orderkey")
    cnt = li.groupby("l_orderkey").size()
    tot = len(li)
    top = sorted(((int(c), int(kk)) for kk, c in cnt.items()),
                 key=lambda t: (-t[0], t[1]))[:k]
    got = dump(spark_out, "q181_skew_report")
    got = got.sort_values(["cnt", "l_orderkey"], ascending=[False, True])
    errs = []
    for (c, kk), (_, row) in zip(top, got.iterrows()):
        if int(row["l_orderkey"]) != kk or int(row["cnt"]) != c or \
           not close(row["share"], c / tot, 6e-7):
            errs.append(f"key {kk}: skew row mismatch")
    return errs


def check_q182_overlap(con, sf_dir, spark_out):
    docs = load(con, sf_dir, "documents", "lang, text")
    vocab = {}
    for _, r in docs.iterrows():
        vocab.setdefault(r["lang"], set()).update(tokenize(r["text"]))
    langs = sorted(vocab)
    got = dump(spark_out, "q182_lang_vocab_overlap").set_index(
        ["lang_a", "lang_b"])
    errs = []
    for i in range(len(langs)):
        for j in range(i + 1, len(langs)):
            a, b = langs[i], langs[j]
            inter = len(vocab[a] & vocab[b])
            jac = inter / (len(vocab[a]) + len(vocab[b]) - inter)
            row = got.loc[(a, b)]
            if int(row["inter"]) != inter or \
               not close(row["jaccard"], jac, 6e-7):
                errs.append(f"({a},{b}): overlap mismatch")
    return errs


def check_q188_ohlc(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events", "ts, event_id, value")
    ev["day"] = pd.to_datetime(ev["ts"]).dt.floor("D")
    got = dump(spark_out, "q188_ohlc")
    got["day"] = pd.to_datetime(got["day"])
    got = got.set_index("day")
    errs = []
    for day, g in ev.groupby("day"):
        g = g.sort_values(["ts", "event_id"])
        row = got.loc[day]
        if int(row["n"]) != len(g) or \
           not close(row["open"], spark_round(g["value"].iloc[0], 2), 1e-9) or \
           not close(row["close"], spark_round(g["value"].iloc[-1], 2), 1e-9) or \
           not close(row["high"], spark_round(g["value"].max(), 2), 1e-9) or \
           not close(row["low"], spark_round(g["value"].min(), 2), 1e-9):
            errs.append(f"{day.date()}: OHLC mismatch")
    return errs


def check_q211_debounce(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events", "user_id, event_id, ts, event_type")
    got = dump(spark_out, "q211_debounce").set_index("user_id")
    errs = []
    for uid, grp in ev.groupby("user_id"):
        g = grp.sort_values(["ts", "event_id"])
        kept = 0
        prev = None
        for et in g["event_type"]:
            if prev is None or et != prev:
                kept += 1
            prev = et
        if int(got.loc[int(uid), "n_kept"]) != kept:
            errs.append(f"user {uid}: debounce count mismatch")
    return errs


def check_q215_diversity(con, sf_dir, spark_out):
    ck = clicks(con, sf_dir)
    emb = load(con, sf_dir, "embeddings", "vec_id, embedding")
    X = {int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
         for _, r in emb.iterrows()}
    nrm = {v: math.sqrt(float((x * x).sum())) for v, x in X.items()}
    daily = ck.groupby(["date", "newsId"]).size().reset_index(name="c")
    got = dump(spark_out, "q215_rec_diversity")
    got["date"] = pd.to_datetime(got["date"])
    got = got.set_index("date")
    errs = []
    for day, g in daily.groupby("date"):
        top = [int(n) for n in
               g.sort_values(["c", "newsId"],
                             ascending=[False, True])["newsId"].head(10)]
        top = [n for n in top if n in X]
        dis = []
        for i in range(len(top)):
            for j in range(i + 1, len(top)):
                a, b = min(top[i], top[j]), max(top[i], top[j])
                dis.append(1.0 - float(X[a] @ X[b]) / (nrm[a] * nrm[b]))
        row = got.loc[pd.Timestamp(day)]
        if int(row["n_pairs"]) != len(dis) or \
           not close(row["avg_ild"], sum(dis) / len(dis), 6e-7):
            errs.append(f"{day}: diversity mismatch")
    return errs


def check_q217_freshness(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events", "event_type, ts")
    per = {}
    for et, g in ev.groupby("event_type"):
        per[et] = (len(g),
                   int(g["ts"].to_numpy().astype("datetime64[us]")
                       .astype("int64").max()))
    gmax = max(t for _, t in per.values())
    got = dump(spark_out, "q217_freshness").set_index("event_type")
    errs = []
    for et, (n, latest) in per.items():
        row = got.loc[et]
        if int(row["n"]) != n or \
           int(pd.Timestamp(row["latest"]).value // 1000) != latest or \
           int(row["lag_minutes"]) != (gmax - latest) // 60000000:
            errs.append(f"{et}: freshness mismatch")
    return errs


def check_q226_urls(con, sf_dir, spark_out):
    docs = load(con, sf_dir, "documents", "doc_id, lang, source")
    got = dump(spark_out, "q226_url_parse").set_index("doc_id")
    errs = []
    bad = 0
    for _, r in docs.iterrows():
        d = int(r["doc_id"])
        row = got.loc[d]
        if row["host"] != f"{r['source']}.example.com" or \
           row["path"] != f"/{r['lang']}/doc-{d}" or \
           row["query"] != f"ref={d % 7}":
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(docs)} parsed URLs differ")
    return errs


def check_q228_cep(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events", "user_id, ts, event_id, event_type")
    got = dump(spark_out, "q228_event_pattern").set_index("user_id")
    errs = []
    for uid, grp in ev.groupby("user_id"):
        g = grp.sort_values(["ts", "event_id"])
        seq = "".join(et[0] for et in g["event_type"])
        n_vc = len(re.findall(r"v[^c]*c", seq))
        row = got.loc[int(uid)]
        if int(row["n_events"]) != len(seq) or \
           int(row["n_view_click"]) != n_vc or \
           bool(row["has_vcp_path"]) != bool(re.search(r"v.*c.*p", seq)):
            errs.append(f"user {uid}: CEP pattern mismatch")
    return errs


def check_q241_diff(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events",
              "user_id, EXTRACT(day FROM ts) AS dom, value")

    def snap(lo, hi, excl):
        g = ev[(ev["dom"] >= lo) & (ev["dom"] <= hi) &
               (ev["user_id"] % excl != 0)]
        return {int(u): (len(gg), spark_round(gg["value"].sum(), 2))
                for u, gg in g.groupby("user_id")}

    old, neu = snap(1, 15, 11), snap(16, 31, 7)
    classes = {}
    for u in set(old) | set(neu):
        if u not in old:
            c = "insert"
        elif u not in neu:
            c = "delete"
        elif old[u] == neu[u]:
            c = "unchanged"
        else:
            c = "update"
        classes[c] = classes.get(c, 0) + 1
    got = dump(spark_out, "q241_snapshot_diff").set_index("change")
    errs = []
    for c, n in classes.items():
        if c not in got.index or int(got.loc[c, "n_keys"]) != n:
            errs.append(f"{c}: {got.loc[c, 'n_keys'] if c in got.index else 0}"
                        f" != {n}")
    return errs


def check_q193_grid(con, sf_dir, spark_out, cells=4):
    docs = load(con, sf_dir, "documents", "doc_id, text")
    got = dump(spark_out, "q193_resize_grid").set_index(["doc_id", "cell"])
    errs = []
    bad = 0
    for _, r in docs.iterrows():
        b = r["text"].encode()
        L = len(b)
        for i in range(cells):
            fr, un = i * L // cells, (i + 1) * L // cells
            row = got.loc[(int(r["doc_id"]), i)]
            if int(row["n_bytes"]) != un - fr or \
               int(row["sum_bytes"]) != sum(b[fr:un]):
                bad += 1
    if bad:
        errs.append(f"{bad} grid cells differ")
    return errs


def check_q194_audio(con, sf_dir, spark_out, win=256):
    docs = load(con, sf_dir, "documents", "doc_id, text")
    got = dump(spark_out, "q194_audio_energy").set_index(["doc_id", "win_idx"])
    errs = []
    n = 0
    bad = 0
    for _, r in docs.iterrows():
        b = r["text"].encode()
        L = len(b)
        for w in range((L + win - 1) // win):
            fr, un = w * win, min(w * win + win, L)
            energy = sum((x - 100) ** 2 for x in b[fr:un])
            n += 1
            row = got.loc[(int(r["doc_id"]), w)]
            if int(row["n_samples"]) != un - fr or \
               int(row["energy"]) != energy:
                bad += 1
    if bad:
        errs.append(f"{bad}/{n} audio windows differ")
    if len(got) != n:
        errs.append(f"window count {len(got)} != {n}")
    return errs


def check_q218_weighted(con, sf_dir, spark_out):
    docs = load(con, sf_dir, "documents", "doc_id, text")
    got = dump(spark_out, "q218_weighted_profiles").set_index(["doc_id", "rn"])
    errs = []
    n = 0
    bad = 0
    for _, r in docs.iterrows():
        t = r["text"]
        tf = {}
        for text, wgt in ((t[:80], 3.0), (t[80:240], 2.0), (t, 1.0)):
            for w in tokenize(text):
                tf[w] = tf.get(w, 0.0) + wgt
        top = sorted(((w, spark_round(v, 6)) for w, v in tf.items()),
                     key=lambda kv: (-kv[1], kv[0]))[:5]
        for rn, (w, v) in enumerate(top, 1):
            n += 1
            row = got.loc[(int(r["doc_id"]), rn)]
            if row["word"] != w or not close(row["tf"], v, 1e-9):
                bad += 1
    if bad:
        errs.append(f"{bad}/{n} weighted-profile rows differ")
    return errs


def check_q245_capped(con, sf_dir, spark_out, cap=64):
    news_kw, news_date, user_kw, ck = _tfidf_profiles(con, sf_dir)
    # cap the in-range inverted index per WORD: top-`cap` postings by
    # (value desc, id asc)
    in_range = {d for d, dt in news_date.items()
                if FROM_DATE <= dt <= TO_DATE + pd.Timedelta(days=NUM_DAYS)}
    inv = {}
    for d in in_range:
        for w, v in news_kw[d]:
            inv.setdefault(w, []).append((v, d))
    for w in inv:
        inv[w] = sorted(inv[w], key=lambda t: (-t[0], t[1]))[:cap]
    ckd = ck.copy()
    ckd["date"] = pd.to_datetime(ckd["date"])
    act = ckd[(ckd["date"] >= FROM_DATE) & (ckd["date"] <= TO_DATE)]
    active_by_day = {pd.Timestamp(day): {int(u) for u in g["userId"]}
                     for day, g in act.groupby("date")}
    all_active = set().union(*active_by_day.values())
    per_day_user = {}
    for u in all_active:
        prof = user_kw.get(u)
        if not prof:
            continue
        acc = {}
        for w, uv in prof:
            for v, d in inv.get(w, ()):
                acc[d] = acc.get(d, 0.0) + uv * v
        for d, sc in acc.items():
            sc = spark_round(sc, 4)
            if sc <= 0:
                continue
            dt = news_date[d]
            lo = max(dt - pd.Timedelta(days=NUM_DAYS), FROM_DATE)
            hi = min(dt, TO_DATE)
            day = lo
            while day <= hi:
                if u in active_by_day.get(day, ()):
                    per_day_user.setdefault((day, u), []).append((sc, d))
                day += pd.Timedelta(days=1)
    got = dump(spark_out, "q245_rec_lists_capped")
    got["date"] = pd.to_datetime(got["date"])
    got = got.set_index(["userId", "date"])
    errs = []
    if len(got) != len(per_day_user):
        errs.append(f"row count {len(got)} != {len(per_day_user)}")
    bad = 0
    for (day, u), lst in per_day_user.items():
        ids = [d for _, d in sorted(lst, key=lambda t: (-t[0], t[1]))[:5]]
        exp = ",".join(str(i) for i in ids)
        if (u, day) not in got.index or got.loc[(u, day), "news"] != exp:
            bad += 1
    if bad:
        errs.append(f"{bad}/{len(per_day_user)} capped rec lists differ")
    return errs


def check_q246_capped_cos(con, sf_dir, spark_out, cap=16):
    news_kw, news_date, user_kw, ck = _tfidf_profiles(con, sf_dir)
    today = pd.Timestamp("2024-01-15")
    active = {int(u) for u in
              ck.loc[pd.to_datetime(ck["date"]) == today, "userId"]}
    in_range = {d for d, dt in news_date.items()
                if today <= dt <= today + pd.Timedelta(days=NUM_DAYS)}
    inv = {}
    for d in in_range:
        for w, v in news_kw[d]:
            inv.setdefault(w, []).append((v, d))
    for w in inv:
        inv[w] = sorted(inv[w], key=lambda t: (-t[0], t[1]))[:cap]
    # cosine denominator uses the CAPPED per-news posting size
    rsize = {}
    for w, lst in inv.items():
        for _, d in lst:
            rsize[d] = rsize.get(d, 0) + 1
    got = dump(spark_out, "q246_rec_cosine_capped").set_index(
        ["userId", "rn"])
    errs = []
    n = 0
    for u in active:
        prof = user_kw.get(u)
        if not prof:
            continue
        common = {}
        for w, _ in prof:
            for _, d in inv.get(w, ()):
                common[d] = common.get(d, 0) + 1
        scored = []
        for d, c in common.items():
            sc = spark_round(c / (len(prof) * rsize[d]), 6)
            if sc > 0:
                scored.append((sc, d))
        top = sorted(scored, key=lambda t: (-t[0], t[1]))[:5]
        for rn, (sc, d) in enumerate(top, 1):
            n += 1
            row = got.loc[(u, rn)]
            if int(row["newsId"]) != d or not close(row["score"], sc, 1e-9):
                errs.append(f"user {u} rn {rn}: capped cosine mismatch")
    if len(got) != n:
        errs.append(f"row count {len(got)} != {n}")
    return errs


def check_q53_asof(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events", "event_id, user_id, ts")
    ords = con.execute(
        f"""SELECT o_custkey % 1500 AS k, CAST(o_orderdate AS DATE) AS t,
                   max(o_orderkey) AS ok,
                   max_by(o_totalprice, o_orderkey) AS price
            FROM read_parquet('{tbl(sf_dir, 'orders')}') GROUP BY 1, 2"""
    ).df()
    by_key = {}
    for _, r in ords.iterrows():
        t_us = int(np.datetime64(pd.Timestamp(r["t"]), "us").astype("int64"))
        by_key.setdefault(int(r["k"]), []).append(
            (t_us, int(r["ok"]), float(r["price"])))
    for k in by_key:
        by_key[k].sort()
    got = dump(spark_out, "q53_asof_join").set_index("event_id")
    errs = []
    n = 0
    bad = 0
    import bisect
    for _, r in ev.iterrows():
        tt = int(np.datetime64(r["ts"], "us").astype("int64"))
        rows = by_key.get(int(r["user_id"]))
        if not rows:
            continue
        i = bisect.bisect_right(rows, (tt, float("inf"), 0.0)) - 1
        if i < 0:
            continue
        n += 1
        _, ok, price = rows[i]
        row = got.loc[int(r["event_id"])]
        if int(row["o_orderkey"]) != ok or \
           not close(row["o_totalprice"], spark_round(price, 2), 1e-9):
            bad += 1
    if bad:
        errs.append(f"{bad}/{n} as-of matches differ")
    if len(got) != n:
        errs.append(f"row count {len(got)} != {n}")
    return errs


def check_q56_range(con, sf_dir, spark_out):
    o = load(con, sf_dir, "orders", "o_orderkey",
             "o_orderkey % 97 = 0")
    ev = load(con, sf_dir, "events", "CAST(ts AS DATE) AS day, value")
    ev["day"] = pd.to_datetime(ev["day"])
    daily = ev.groupby("day").agg(n=("value", "size"), v=("value", "sum"))
    daily["v"] = daily["v"].map(lambda x: spark_round(x, 2))
    got = dump(spark_out, "q56_range_join").set_index("o_orderkey")
    errs = []
    n = 0
    for ok in o["o_orderkey"].astype(int):
        d0 = pd.Timestamp("2024-01-01") + pd.Timedelta(days=ok % 28)
        d1 = d0 + pd.Timedelta(days=ok % 7 + 1)
        days = [d for d in pd.date_range(d0, d1) if d in daily.index]
        if not days:
            continue
        n += 1
        ne = int(daily.loc[days, "n"].sum())
        tv = spark_round(float(daily.loc[days, "v"].sum()), 2)
        row = got.loc[ok]
        if int(row["n_events"]) != ne or \
           not close(row["total_value"], tv, 1e-9):
            errs.append(f"order {ok}: range join mismatch")
    if len(got) != n:
        errs.append(f"row count {len(got)} != {n}")
    return errs


def check_q73_locf(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events",
              "user_id, ts, event_id, value", "event_type = 'click'")
    ev["day"] = pd.to_datetime(ev["ts"]).dt.floor("D")
    got = dump(spark_out, "q73_gapfill_locf")
    got["day"] = pd.to_datetime(got["day"])
    got = got.set_index(["userId", "day"])
    errs = []
    n = 0
    bad = 0
    for uid, grp in ev.groupby("user_id"):
        obs = {}
        for day, g in grp.groupby("day"):
            last = g.sort_values(["ts", "event_id"]).iloc[-1]
            obs[day] = float(last["value"])
        days = sorted(obs)
        cur = None
        day = days[0]
        while day <= days[-1]:
            n += 1
            observed = day in obs
            if observed:
                cur = obs[day]
            row = got.loc[(int(uid), day)]
            if bool(row["observed"]) != observed or \
               not close(row["filled"], spark_round(cur, 6), 1e-9):
                bad += 1
            day += pd.Timedelta(days=1)
    if bad:
        errs.append(f"{bad}/{n} LOCF rows differ")
    if len(got) != n:
        errs.append(f"row count {len(got)} != {n}")
    return errs


def check_q221_dateloop(con, sf_dir, spark_out, gap=5):
    ck = clicks(con, sf_dir)
    ck["date"] = pd.to_datetime(ck["date"])
    lo = max(pd.Timestamp("2024-01-15") - pd.Timedelta(days=gap),
             pd.Timestamp("2024-01-08"))
    hi = min(pd.Timestamp("2024-01-15"), pd.Timestamp("2024-01-20"))
    win = ck[(ck["date"] >= lo) & (ck["date"] <= hi)]
    got = dump(spark_out, "q221_date_loop")
    got["date"] = pd.to_datetime(got["date"])
    got = got.set_index("date")
    errs = []
    if len(got) != win["date"].nunique():
        errs.append(f"day count {len(got)} != {win['date'].nunique()}")
    for day, g in win.groupby("date"):
        row = got.loc[day]
        if int(row["n_users"]) != g["userId"].nunique() or \
           int(row["n_clicks"]) != len(g):
            errs.append(f"{day.date()}: date-loop counts mismatch")
    return errs


def check_q224_lateral(con, sf_dir, spark_out, k=3):
    o = load(con, sf_dir, "orders", "o_custkey, o_orderkey, o_totalprice")
    got = dump(spark_out, "q224_lateral_topk")
    errs = []
    exp = []
    for ck in sorted(set(o["o_custkey"].astype(int))):
        if ck % 100 != 0:
            continue
        g = o[o["o_custkey"] == ck]
        top = g.sort_values(["o_totalprice", "o_orderkey"],
                            ascending=[False, True]).head(k)
        for _, r in top.iterrows():
            exp.append((ck, int(r["o_orderkey"]),
                        spark_round(r["o_totalprice"], 2)))
    if len(got) != len(exp):
        errs.append(f"row count {len(got)} != {len(exp)}")
    gset = {(int(r["c_custkey"]), int(r["o_orderkey"]), float(r["price"]))
            for _, r in got.iterrows()}
    for e in exp:
        if e not in gset:
            errs.append(f"row {e} missing")
    return errs


def check_q49_json(con, sf_dir, spark_out):
    import json as _json
    ev = load(con, sf_dir, "events", "props, value")
    agg = {}
    for _, r in ev.iterrows():
        try:
            k = int(_json.loads(r["props"])["k"])
            bucket = k % 10
        except (ValueError, KeyError, TypeError):
            bucket = None
        n, v = agg.get(bucket, (0, 0.0))
        agg[bucket] = (n + 1, v + float(r["value"]))
    got = dump(spark_out, "q49_json_props")
    got = got.set_index(got["k_bucket"].map(
        lambda x: None if pd.isna(x) else int(x)), drop=False)
    errs = []
    for bucket, (n, v) in agg.items():
        row = got.loc[bucket]
        if int(row["n"]) != n or \
           not close(row["total_value"], spark_round(v, 2), 2e-6):
            errs.append(f"bucket {bucket}: json props mismatch")
    return errs


def check_q12_running(con, sf_dir, spark_out):
    li = load(con, sf_dir, "lineitem",
              "l_suppkey, l_orderkey, l_linenumber, l_quantity, l_shipdate")
    got = dump(spark_out, "q12_running_sum")
    errs = []
    # compare the output MULTISET per supplier (ties are value-identical
    # rows by the lane's contract, so per-key multisets are deterministic)
    exp_rows = []
    for sk, g in li.groupby("l_suppkey"):
        g = g.sort_values(["l_shipdate", "l_orderkey", "l_linenumber",
                           "l_quantity"], kind="stable")
        run = 0.0
        for _, r in g.iterrows():
            run += float(r["l_quantity"])
            exp_rows.append((int(sk), int(r["l_orderkey"]),
                             int(r["l_linenumber"]), spark_round(run, 2)))
    from collections import Counter
    exp_c = Counter(exp_rows)
    got_c = Counter((int(r["l_suppkey"]), int(r["l_orderkey"]),
                     int(r["l_linenumber"]), float(r["running_qty"]))
                    for _, r in got.iterrows())
    if exp_c != got_c:
        diff = sum((exp_c - got_c).values())
        errs.append(f"{diff} running-sum rows differ")
    return errs


def check_q200_dashboard(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events",
              "user_id, event_id, CAST(ts AS DATE) AS day, event_type, value")
    ev["day"] = pd.to_datetime(ev["day"])
    first = ev.groupby("user_id")["day"].min()
    got = dump(spark_out, "q200_daily_dashboard")
    got["day"] = pd.to_datetime(got["day"])
    got = got.set_index("day")
    errs = []
    for day, g in ev.groupby("day"):
        clicks_g = g[g["event_type"] == "click"]
        rev = g.loc[g["event_type"] == "purchase", "value"].sum()
        newu = int((first == day).sum())
        top = clicks_g.groupby(g["event_id"] % 500).size()
        tn, tc = (None, None)
        if len(top):
            tc = int(top.max())
            tn = int(min(k for k, v in top.items() if v == tc))
        row = got.loc[day]
        if int(row["n_events"]) != len(g) or \
           int(row["n_clicks"]) != len(clicks_g) or \
           int(row["n_active_users"]) != g["user_id"].nunique() or \
           int(row["n_new_users"]) != newu or \
           not close(row["revenue"], spark_round(rev, 2), 2e-6) or \
           int(row["top_news"]) != tn or int(row["top_news_clicks"]) != tc:
            errs.append(f"{day.date()}: dashboard mismatch")
    return errs


def _disc_rev_units(p, dc):
    cents = np.rint(np.asarray(p, dtype=np.float64) * 100).astype(np.int64)
    dcents = np.rint(np.asarray(dc, dtype=np.float64) * 100).astype(np.int64)
    return int((cents * (100 - dcents)).sum())


def _cents_half_up(u):
    return ((u + 50) - (u + 50) % 100) / 100 / 100.0


def check_q1_agg(con, sf_dir, spark_out):
    li = load(con, sf_dir, "lineitem",
              "l_returnflag AS rf, l_linestatus AS ls, l_quantity AS q, "
              "l_extendedprice AS p, l_discount AS dc")
    got = dump(spark_out, "q1_agg").set_index(["l_returnflag", "l_linestatus"])
    errs = []
    for key, g in li.groupby(["rf", "ls"]):
        n = len(g)
        qc = np.rint(g["q"].to_numpy() * 100).astype(np.int64)
        dcc = np.rint(g["dc"].to_numpy() * 100).astype(np.int64)
        row = got.loc[key]
        if int(row["count_order"]) != n or \
           not close(row["sum_qty"], spark_round(g["q"].sum(), 2), 2e-6) or \
           not close(row["sum_base_price"],
                     spark_round(g["p"].sum(), 2), 2e-5) or \
           not close(row["sum_disc_price"],
                     _cents_half_up(_disc_rev_units(g["p"], g["dc"])), 1e-9) or \
           not close(row["avg_qty"],
                     half_up_ratio(int(qc.sum()) * 100, n, 4), 1e-9) or \
           not close(row["avg_disc"],
                     half_up_ratio(int(dcc.sum()) * 100, n, 4), 1e-9):
            errs.append(f"{key}: q1 aggregate mismatch")
    return errs


def check_q2_topk(con, sf_dir, spark_out, k=5):
    li = load(con, sf_dir, "lineitem",
              "l_returnflag, l_orderkey, l_linenumber, l_extendedprice")
    got = dump(spark_out, "q2_topk_per_group").set_index(
        ["l_returnflag", "rn"])
    errs = []
    for rf, g in li.groupby("l_returnflag"):
        top = g.sort_values(["l_extendedprice", "l_orderkey", "l_linenumber"],
                            ascending=[False, True, True]).head(k)
        for rn, (_, r) in enumerate(top.iterrows(), 1):
            row = got.loc[(rf, rn)]
            if int(row["l_orderkey"]) != int(r["l_orderkey"]) or \
               int(row["l_linenumber"]) != int(r["l_linenumber"]):
                errs.append(f"{rf} rn {rn}: top-k mismatch")
    return errs


def _rev_join(con, sf_dir, group_cols, join_customer=False):
    cust = ", c_mktsegment" if join_customer else ""
    jc = f"JOIN read_parquet('{tbl(sf_dir, 'customer')}') c " \
         "ON o.o_custkey = c.c_custkey" if join_customer else ""
    return con.execute(
        f"""SELECT {group_cols}{cust and ''}, l_extendedprice AS p,
                   l_discount AS dc
            FROM read_parquet('{tbl(sf_dir, 'lineitem')}') l
            JOIN read_parquet('{tbl(sf_dir, 'orders')}') o
              ON l.l_orderkey = o.o_orderkey {jc}"""
    ).df()


def check_q3_joinagg(con, sf_dir, spark_out):
    df = con.execute(
        f"""SELECT c_mktsegment AS seg, o_orderpriority AS pr,
                   l_extendedprice AS p, l_discount AS dc
            FROM read_parquet('{tbl(sf_dir, 'lineitem')}') l
            JOIN read_parquet('{tbl(sf_dir, 'orders')}') o
              ON l.l_orderkey = o.o_orderkey
            JOIN read_parquet('{tbl(sf_dir, 'customer')}') c
              ON o.o_custkey = c.c_custkey""").df()
    got = dump(spark_out, "q3_join_agg").set_index(
        ["c_mktsegment", "o_orderpriority"])
    errs = []
    for key, g in df.groupby(["seg", "pr"]):
        row = got.loc[key]
        if int(row["n_lines"]) != len(g) or \
           not close(row["revenue"],
                     _cents_half_up(_disc_rev_units(g["p"], g["dc"])), 1e-9):
            errs.append(f"{key}: join-agg mismatch")
    return errs


def check_q4_semi(con, sf_dir, spark_out):
    o = load(con, sf_dir, "orders", "o_custkey", "o_totalprice > 150000")
    c = load(con, sf_dir, "customer", "c_custkey, c_name")
    keys = set(o["o_custkey"].astype(int))
    exp = {int(k) for k in c["c_custkey"] if int(k) in keys}
    got = dump(spark_out, "q4_semi_join")
    errs = []
    if set(got["c_custkey"].astype(int)) != exp or len(got) != len(exp):
        errs.append("semi-join membership differs")
    return errs


def check_q5_anti(con, sf_dir, spark_out):
    o = load(con, sf_dir, "orders", "o_custkey", "o_totalprice > 300000")
    c = load(con, sf_dir, "customer", "c_custkey")
    keys = set(o["o_custkey"].astype(int))
    exp = {int(k) for k in c["c_custkey"] if int(k) not in keys}
    got = dump(spark_out, "q5_anti_join")
    errs = []
    if set(got["c_custkey"].astype(int)) != exp or len(got) != len(exp):
        errs.append("anti-join membership differs")
    return errs


def check_q6_datewin(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events",
              "event_type, CAST(ts AS DATE) AS day, value")
    ev["day"] = pd.to_datetime(ev["day"])
    today = pd.Timestamp("2024-01-15")
    win = ev[(ev["day"] >= today - pd.Timedelta(days=3)) &
             (ev["day"] <= today)]
    got = dump(spark_out, "q6_date_window").set_index("event_type")
    errs = []
    for et, g in win.groupby("event_type"):
        row = got.loc[et]
        if int(row["n"]) != len(g) or \
           not close(row["total_value"],
                     spark_round(g["value"].sum(), 2), 2e-6):
            errs.append(f"{et}: date-window mismatch")
    return errs


def check_q7_hotparts(con, sf_dir, spark_out, k=3):
    li = load(con, sf_dir, "lineitem",
              "CAST(l_shipdate AS DATE) AS day, l_partkey")
    li["day"] = pd.to_datetime(li["day"])
    counts = li.groupby(["day", "l_partkey"]).size()
    got = dump(spark_out, "q7_hot_parts")
    got["day"] = pd.to_datetime(got["day"])
    got = got.set_index(["day", "rn"])
    errs = []
    n = 0
    bad = 0
    for day, s in counts.groupby(level=0):
        top = sorted(((int(c), int(p)) for (_, p), c in s.items()),
                     key=lambda t: (-t[0], t[1]))[:k]
        for rn, (c, p) in enumerate(top, 1):
            n += 1
            row = got.loc[(day, rn)]
            if int(row["l_partkey"]) != p or int(row["n"]) != c:
                bad += 1
    if bad:
        errs.append(f"{bad}/{n} hot-part rows differ")
    if len(got) != n:
        errs.append(f"row count {len(got)} != {n}")
    return errs


def check_q8_distinct(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events", "user_id, CAST(ts AS DATE) AS day")
    ev["day"] = pd.to_datetime(ev["day"])
    got = dump(spark_out, "q8_distinct_per_day")
    got["day"] = pd.to_datetime(got["day"])
    got = got.set_index("day")
    errs = []
    for day, g in ev.groupby("day"):
        row = got.loc[day]
        if int(row["n_users"]) != g["user_id"].nunique() or \
           int(row["n_events"]) != len(g):
            errs.append(f"{day.date()}: distinct-per-day mismatch")
    return errs


def check_q9_usertopk(con, sf_dir, spark_out, k=5):
    ev = load(con, sf_dir, "events", "user_id, event_id, value")
    ev["value"] = ev["value"].map(lambda v: spark_round(v, 2))
    got = dump(spark_out, "q9_user_topk").set_index(["user_id", "rn"])
    errs = []
    bad = 0
    for uid, g in ev.groupby("user_id"):
        top = g.sort_values(["value", "event_id"],
                            ascending=[False, True]).head(k)
        for rn, (_, r) in enumerate(top.iterrows(), 1):
            row = got.loc[(int(uid), rn)]
            if int(row["event_id"]) != int(r["event_id"]) or \
               not close(row["value"], r["value"], 1e-9):
                bad += 1
    if bad:
        errs.append(f"{bad} user-topk rows differ")
    return errs


def check_q10_global(con, sf_dir, spark_out):
    li = load(con, sf_dir, "lineitem",
              "l_quantity AS q, l_extendedprice AS p, l_orderkey")
    row = dump(spark_out, "q10_global_agg").iloc[0]
    errs = []
    if int(row["n"]) != len(li) or \
       int(row["n_orders"]) != li["l_orderkey"].nunique() or \
       not close(row["sum_qty"], spark_round(li["q"].sum(), 2), 2e-6) or \
       not close(row["min_price"], spark_round(li["p"].min(), 2), 1e-9) or \
       not close(row["max_price"], spark_round(li["p"].max(), 2), 1e-9):
        errs.append("global aggregate mismatch")
    return errs


def check_q11_star(con, sf_dir, spark_out):
    df = con.execute(
        f"""SELECT r_name, n_name, l_extendedprice AS p, l_discount AS dc
            FROM read_parquet('{tbl(sf_dir, 'lineitem')}') l
            JOIN read_parquet('{tbl(sf_dir, 'orders')}') o
              ON l.l_orderkey = o.o_orderkey
            JOIN read_parquet('{tbl(sf_dir, 'customer')}') c
              ON o.o_custkey = c.c_custkey
            JOIN read_parquet('{tbl(sf_dir, 'nation')}') n
              ON c.c_nationkey = n.n_nationkey
            JOIN read_parquet('{tbl(sf_dir, 'region')}') r
              ON n.n_regionkey = r.r_regionkey""").df()
    got = dump(spark_out, "q11_star_join").set_index(["r_name", "n_name"])
    errs = []
    for key, g in df.groupby(["r_name", "n_name"]):
        row = got.loc[key]
        if int(row["n_lines"]) != len(g) or \
           not close(row["revenue"],
                     _cents_half_up(_disc_rev_units(g["p"], g["dc"])), 1e-9):
            errs.append(f"{key}: star-join mismatch")
    return errs


def _priority_rev(con, sf_dir, lane, spark_out):
    df = con.execute(
        f"""SELECT o_orderpriority AS pr, l_extendedprice AS p,
                   l_discount AS dc
            FROM read_parquet('{tbl(sf_dir, 'lineitem')}') l
            JOIN read_parquet('{tbl(sf_dir, 'orders')}') o
              ON l.l_orderkey = o.o_orderkey""").df()
    got = dump(spark_out, lane).set_index("o_orderpriority")
    errs = []
    for pr, g in df.groupby("pr"):
        row = got.loc[pr]
        if int(row["n_lines"]) != len(g) or \
           not close(row["revenue"],
                     _cents_half_up(_disc_rev_units(g["p"], g["dc"])), 1e-9):
            errs.append(f"{pr}: {lane} mismatch")
    return errs


def check_q48_sql(con, sf_dir, spark_out):
    return _priority_rev(con, sf_dir, "q48_sql_surface", spark_out)


def check_q84_bucketed(con, sf_dir, spark_out):
    return _priority_rev(con, sf_dir, "q84_bucketed_join", spark_out)


def _cube_cells(li, sets):
    cells = {}
    for rf_on, ls_on in sets:
        key_fn = lambda r: (r["rf"] if rf_on else None,
                            r["ls"] if ls_on else None)
        grouped = {}
        for _, r in li.iterrows():
            k = key_fn(r)
            sq, n = grouped.get(k, (0.0, 0))
            grouped[k] = (sq + r["q"], n + 1)
        cells.update(grouped)
    return cells


def check_q52_rollup(con, sf_dir, spark_out):
    li = load(con, sf_dir, "lineitem",
              "l_returnflag AS rf, l_linestatus AS ls, l_quantity AS q")
    cells = _cube_cells(li, [(True, True), (True, False), (False, False)])
    got = dump(spark_out, "q52_rollup")
    errs = []
    if len(got) != len(cells):
        errs.append(f"cell count {len(got)} != {len(cells)}")
    gmap = {(None if pd.isna(r["l_returnflag"]) else r["l_returnflag"],
             None if pd.isna(r["l_linestatus"]) else r["l_linestatus"]):
            (r["sum_qty"], int(r["n"])) for _, r in got.iterrows()}
    for k, (sq, n) in cells.items():
        if k not in gmap or gmap[k][1] != n or \
           not close(gmap[k][0], spark_round(sq, 2), 2e-6):
            errs.append(f"rollup cell {k}: mismatch")
    return errs


def check_q55_cube(con, sf_dir, spark_out):
    li = load(con, sf_dir, "lineitem",
              "l_returnflag AS rf, l_linestatus AS ls, l_quantity AS q")
    cells = _cube_cells(li, [(True, True), (True, False),
                             (False, True), (False, False)])
    got = dump(spark_out, "q55_cube")
    errs = []
    if len(got) != len(cells):
        errs.append(f"cell count {len(got)} != {len(cells)}")
    gmap = {(None if pd.isna(r["l_returnflag"]) else r["l_returnflag"],
             None if pd.isna(r["l_linestatus"]) else r["l_linestatus"]):
            (r["sum_qty"], int(r["n"])) for _, r in got.iterrows()}
    for k, (sq, n) in cells.items():
        if k not in gmap or gmap[k][1] != n or \
           not close(gmap[k][0], spark_round(sq, 2), 2e-6):
            errs.append(f"cube cell {k}: mismatch")
    return errs


def check_q63_fullouter(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events", "CAST(ts AS DATE) AS day",
              "event_type = 'click'")
    ev["day"] = pd.to_datetime(ev["day"])
    clicks_d = ev.groupby("day").size()
    o = load(con, sf_dir, "orders",
             "CAST(o_orderdate AS DATE) AS day", "o_orderkey % 997 = 0")
    o["day"] = pd.to_datetime(o["day"])
    orders_d = o.groupby("day").size()
    days = set(clicks_d.index) | set(orders_d.index)
    got = dump(spark_out, "q63_full_outer")
    got["day"] = pd.to_datetime(got["day"])
    got = got.set_index("day")
    errs = []
    if len(got) != len(days):
        errs.append(f"day count {len(got)} != {len(days)}")
    for day in days:
        row = got.loc[day]
        nc = clicks_d.get(day)
        no = orders_d.get(day)
        gc = None if pd.isna(row["n_clicks"]) else int(row["n_clicks"])
        go = None if pd.isna(row["n_orders"]) else int(row["n_orders"])
        if gc != (None if nc is None else int(nc)) or \
           go != (None if no is None else int(no)):
            errs.append(f"{day.date()}: full-outer mismatch")
    return errs


def check_q71_pivot(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events", "user_id, event_type")
    types = ["click", "error", "purchase", "signup", "view"]
    got = dump(spark_out, "q71_pivot").set_index("userId")
    errs = []
    for uid, g in ev.groupby("user_id"):
        counts = g["event_type"].value_counts()
        row = got.loc[int(uid)]
        for t in types:
            if int(row[f"n_{t}"]) != int(counts.get(t, 0)):
                errs.append(f"user {uid} {t}: pivot mismatch")
    return errs


def check_q72_unpivot(con, sf_dir, spark_out):
    """Vectorized (melt + grouped multiset compare): the old per-row
    Counter loop over 3x|lineitem| tuples timed out at the sf1 tier's
    900 s per-lane cap (VERDICT r10 task 3)."""
    li = load(con, sf_dir, "lineitem",
              "l_orderkey, l_linenumber, l_quantity, l_extendedprice, "
              "l_discount")
    got = dump(spark_out, "q72_unpivot")
    errs = []
    if len(got) != 3 * len(li):
        errs.append(f"row count {len(got)} != {3 * len(li)}")
    exp = li.melt(id_vars=["l_orderkey", "l_linenumber"],
                  value_vars=["l_quantity", "l_extendedprice", "l_discount"],
                  var_name="measure", value_name="value")
    # spark_round stays the per-value arbiter (same HALF_UP semantics as
    # the original loop); the multiset compare is the vectorized part.
    exp["value"] = [spark_round(v, 2) for v in exp["value"].to_numpy()]
    key = ["l_orderkey", "l_linenumber", "measure", "value"]
    e = exp.groupby(key).size()
    g = got.assign(l_orderkey=got["l_orderkey"].astype(int),
                   l_linenumber=got["l_linenumber"].astype(int),
                   value=got["value"].astype(float)).groupby(key).size()
    diff = e.subtract(g, fill_value=0)
    bad = int((diff != 0).sum())
    if bad:
        errs.append(f"{bad} unpivot (key, multiplicity) groups differ")
    return errs


def check_q75_setops(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events", "user_id, event_type")
    ck = set(ev.loc[ev["event_type"] == "click", "user_id"].astype(int))
    pu = set(ev.loc[ev["event_type"] == "purchase", "user_id"].astype(int))
    exp = {(u, "click_and_purchase") for u in ck & pu} | \
          {(u, "click_only") for u in ck - pu}
    got = dump(spark_out, "q75_setops")
    gset = {(int(r["user_id"]), r["relation"]) for _, r in got.iterrows()}
    errs = []
    if gset != exp or len(got) != len(exp):
        errs.append("set-op membership differs")
    return errs


def check_q76_gsets(con, sf_dir, spark_out):
    ev = load(con, sf_dir, "events",
              "event_type, CAST(ts AS DATE) AS day, value")
    ev["day"] = pd.to_datetime(ev["day"])
    cells = {}
    for et, g in ev.groupby("event_type"):
        cells[(et, None, 1)] = (len(g), g["value"].sum())
    for day, g in ev.groupby("day"):
        cells[(None, day, 2)] = (len(g), g["value"].sum())
    cells[(None, None, 3)] = (len(ev), ev["value"].sum())
    got = dump(spark_out, "q76_grouping_sets")
    got["day"] = pd.to_datetime(got["day"])
    errs = []
    if len(got) != len(cells):
        errs.append(f"cell count {len(got)} != {len(cells)}")
    for _, r in got.iterrows():
        key = (None if pd.isna(r["event_type"]) else r["event_type"],
               None if pd.isna(r["day"]) else r["day"], int(r["gid"]))
        if key not in cells:
            errs.append(f"unexpected cell {key}")
            continue
        n, sv = cells[key]
        if int(r["n"]) != n or \
           not close(r["sum_value"], spark_round(sv, 4), 2e-4):
            errs.append(f"cell {key}: mismatch")
    return errs


def check_q77_bloom(con, sf_dir, spark_out, hi=450000.0):
    o = load(con, sf_dir, "orders", "o_orderkey", f"o_totalprice > {hi}")
    keys = set(o["o_orderkey"].astype(int))
    li = load(con, sf_dir, "lineitem",
              "l_orderkey, l_returnflag AS rf, l_quantity AS q")
    sel = li[li["l_orderkey"].astype(int).isin(keys)]
    got = dump(spark_out, "q77_bloom_semi").set_index("flag")
    errs = []
    for rf, g in sel.groupby("rf"):
        row = got.loc[rf]
        if int(row["n_items"]) != len(g) or \
           not close(row["sum_qty"], spark_round(g["q"].sum(), 2), 2e-6):
            errs.append(f"{rf}: bloom-semi mismatch")
    return errs


def check_q91_profile(con, sf_dir, spark_out):
    o = load(con, sf_dir, "orders",
             "o_custkey, o_orderstatus, CAST(o_orderdate AS DATE) AS d, "
             "o_totalprice AS p")
    row = dump(spark_out, "q91_profile_orders").iloc[0]
    cents = np.rint(o["p"].to_numpy() * 100).astype(np.int64)
    errs = []
    if int(row["n_rows"]) != len(o) or \
       int(row["n_cust"]) != o["o_custkey"].nunique() or \
       int(row["n_status"]) != o["o_orderstatus"].nunique() or \
       pd.Timestamp(row["min_date"]) != pd.Timestamp(o["d"].min()) or \
       pd.Timestamp(row["max_date"]) != pd.Timestamp(o["d"].max()) or \
       not close(row["min_price"], spark_round(o["p"].min(), 2), 1e-9) or \
       not close(row["max_price"], spark_round(o["p"].max(), 2), 1e-9) or \
       not close(row["avg_price"],
                 half_up_ratio(int(cents.sum()), len(o), 2), 1e-9):
        errs.append("order profile mismatch")
    return errs


def check_q113_dq(con, sf_dir, spark_out):
    o = load(con, sf_dir, "orders",
             "o_orderkey, o_custkey, o_totalprice, "
             "CAST(o_orderdate AS DATE) AS d")
    c = load(con, sf_dir, "customer", "c_custkey")
    ckeys = set(c["c_custkey"].astype(int))
    checks = {
        "null_custkey": int(o["o_custkey"].isna().sum()),
        "nonpositive_price": int((o["o_totalprice"] <= 0).sum()),
        "date_out_of_range": int(
            ((pd.to_datetime(o["d"]) < "2023-01-01") |
             (pd.to_datetime(o["d"]) > "2025-12-31")).sum()),
        "dup_orderkey": len(o) - o["o_orderkey"].nunique(),
        "orphan_custkey": int(
            (~o["o_custkey"].astype(int).isin(ckeys)).sum()),
    }
    got = dump(spark_out, "q113_dq_checks").set_index("check")
    errs = []
    for name, n in checks.items():
        if int(got.loc[name, "n_violations"]) != n:
            errs.append(f"{name}: {got.loc[name, 'n_violations']} != {n}")
    return errs


def check_q120_multiway(con, sf_dir, spark_out):
    df = con.execute(
        f"""SELECT n_name, l_extendedprice AS p, l_discount AS dc
            FROM read_parquet('{tbl(sf_dir, 'lineitem')}') l
            JOIN read_parquet('{tbl(sf_dir, 'orders')}') o
              ON l.l_orderkey = o.o_orderkey
            JOIN read_parquet('{tbl(sf_dir, 'customer')}') c
              ON o.o_custkey = c.c_custkey
            JOIN read_parquet('{tbl(sf_dir, 'nation')}') n
              ON c.c_nationkey = n.n_nationkey
            JOIN read_parquet('{tbl(sf_dir, 'region')}') r
              ON n.n_regionkey = r.r_regionkey
            JOIN read_parquet('{tbl(sf_dir, 'supplier')}') s
              ON l.l_suppkey = s.s_suppkey
             AND s.s_nationkey = c.c_nationkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= DATE '1996-01-01'
              AND o_orderdate < DATE '1997-01-01'""").df()
    got = dump(spark_out, "q120_multiway_join").set_index("n_name")
    errs = []
    for nn, g in df.groupby("n_name"):
        row = got.loc[nn]
        if int(row["n_lines"]) != len(g) or \
           not close(row["revenue"],
                     _cents_half_up(_disc_rev_units(g["p"], g["dc"])), 1e-9):
            errs.append(f"{nn}: multiway mismatch")
    return errs


def check_q143_nullanti(con, sf_dir, spark_out):
    o = load(con, sf_dir, "orders", "o_custkey")
    c = load(con, sf_dir, "customer", "c_custkey")
    keys = {None if int(k) % 1000 == 7 else int(k) for k in c["c_custkey"]}
    has_null = None in keys
    nn_keys = {k for k in keys if k is not None}
    # NOT IN with a NULL in the subquery is never TRUE
    not_in = 0 if has_null else int(
        (~o["o_custkey"].astype(int).isin(nn_keys)).sum())
    not_exists = int((~o["o_custkey"].astype(int).isin(nn_keys)).sum())
    got = dump(spark_out, "q143_null_aware_antijoin").set_index("method")
    errs = []
    if int(got.loc["not_in", "n_rows"]) != not_in or \
       int(got.loc["not_exists", "n_rows"]) != not_exists:
        errs.append(f"({got.loc['not_in', 'n_rows']},"
                    f"{got.loc['not_exists', 'n_rows']})"
                    f" != ({not_in},{not_exists})")
    return errs


def check_q146_aggsurf(con, sf_dir, spark_out):
    o = load(con, sf_dir, "orders",
             "o_orderpriority AS pr, o_totalprice AS p, o_custkey")
    got = dump(spark_out, "q146_agg_surface").set_index("o_orderpriority")
    errs = []

    def pct_cont(x, q):
        idx = q * (len(x) - 1)
        f = int(math.floor(idx))
        if f + 1 >= len(x):
            return x[-1]
        return x[f] + (idx - f) * (x[f + 1] - x[f])

    for pr, g in o.groupby("pr"):
        x = np.sort(g["p"].to_numpy(dtype=np.float64))
        top = g.loc[(g["p"] * 100000 + g["o_custkey"]).idxmax(), "o_custkey"]
        row = got.loc[pr]
        if int(row["n"]) != len(g) or \
           not close(row["p50"], pct_cont(x, 0.5), 2e-4) or \
           not close(row["p90"], pct_cont(x, 0.9), 2e-4) or \
           int(row["top_cust"]) != int(top):
            errs.append(f"{pr}: agg-surface mismatch")
    return errs


def check_q50_als_audit(con, sf_dir, spark_out):
    # r9 schema: per trained user, bound-verdict booleans (the factors are
    # audited out-of-band by tools/verify_als.py over a DumpAux dump).
    got = dump(spark_out, "q50_als_recommend")
    exp = {int(r[0]) for r in con.execute(
        f"""SELECT DISTINCT user_id
            FROM read_parquet('{tbl(sf_dir, 'events')}')
            WHERE event_type = 'click'""").fetchall()}
    errs = []
    if set(got["userId"].astype(int)) != exp:
        errs.append(f"trained-user set mismatch: {len(got)} vs {len(exp)}")
    for c in ("has_k_recs", "mono_ok", "separation_ok"):
        bad = int((~got[c]).sum())
        if bad:
            errs.append(f"{bad}/{len(got)} false {c}")
    return errs


def check_q74_sketch_audit(con, sf_dir, spark_out):
    # r9 schema: exact distinct users (recomputed here) + error-contract
    # verdict booleans (raw estimates audited via DumpAux +
    # tools/verify_sketches.py).
    got = dump(spark_out, "q74_sketches").set_index("event_type")
    exp = dict(con.execute(
        f"""SELECT event_type, count(DISTINCT user_id)
            FROM read_parquet('{tbl(sf_dir, 'events')}')
            GROUP BY 1""").fetchall())
    errs = []
    if set(got.index) != set(exp):
        errs.append("event_type set mismatch")
    for et, n in exp.items():
        if int(got.loc[et, "exact_users"]) != int(n):
            errs.append(f"{et}: exact_users {got.loc[et, 'exact_users']} != {n}")
    for c in ("users_ok", "p50_ok", "p95_ok"):
        bad = int((~got[c]).sum())
        if bad:
            errs.append(f"{bad}/{len(got)} false {c}")
    return errs


def check_q271_dup_spans(con, sf_dir, spark_out, n=SHARED["span_n"]):
    """Literal interval-merge recompute: duplicated 5-gram start positions
    per doc, merged with a sequential sweep (not the engine's lag/sum
    window), exact-integer span accounting."""
    toks = _doc_tokens(con, sf_dir)
    gram_docs = {}
    for d, tk in toks.items():
        for i in range(len(tk) - n + 1):
            gram_docs.setdefault(" ".join(tk[i:i + n]), set()).add(d)
    dup = {g for g, ds in gram_docs.items() if len(ds) >= 2}
    got = dump(spark_out, "q271_dup_span_audit").set_index("doc_id")
    errs = []
    n_rows = sum(1 for tk in toks.values() if len(tk) >= n)
    if len(got) != n_rows:
        errs.append(f"row count {len(got)} != {n_rows}")
    for d, tk in toks.items():
        if len(tk) < n:
            continue
        starts = [i + 1 for i in range(len(tk) - n + 1)
                  if " ".join(tk[i:i + n]) in dup]
        spans = []
        for p in starts:
            if spans and p <= spans[-1][1] + 1:
                spans[-1][1] = max(spans[-1][1], p + n - 1)
            else:
                spans.append([p, p + n - 1])
        cov = sum(e - s + 1 for s, e in spans)
        longest = max((e - s + 1 for s, e in spans), default=0)
        g = got.loc[d]
        if (int(g["n_tokens"]), int(g["n_spans"]), int(g["cov_tokens"]),
                int(g["longest_span"])) != (len(tk), len(spans), cov, longest):
            errs.append(f"doc {d}: spans differ")
        if float(g["cov_frac"]) != half_up_ratio(cov * 10000, len(tk), 4):
            errs.append(f"doc {d}: cov_frac differs")
    return errs[:5]


def check_q272_pii(con, sf_dir, spark_out):
    """Python re recompute of the PII scan: the same three patterns over
    the same deterministic augmentation, counts via findall, redaction
    delta via chained re.sub."""
    pats = [SHARED["pii_patterns"][k] for k in ("email", "phone", "ip")]
    tags = [SHARED["pii_tags"][k] for k in ("email", "phone", "ip")]
    strata = SHARED["pii_strata"]
    docs = load(con, sf_dir, "documents", "doc_id, source, text")
    agg = {}
    for _, r in docs.iterrows():
        d = int(r["doc_id"])
        aug = r["text"]
        if d % strata["email_mod"] == 0:
            aug += f" contact user{d}@example.com"
        if d % strata["phone_mod"] == 0:
            aug += f" call 555-{d % 10000:04d}"
        if d % strata["ip_mod"] == 0:
            aug += f" from 10.{d % 256}.{(d * 7) % 256}.1"
        cnt = [len(re.findall(p, aug)) for p in pats]
        red = aug
        for p, t in zip(pats, tags):
            red = re.sub(p, t, red)
        cell = agg.setdefault(r["source"], [0, 0, 0, 0, 0, 0])
        cell[0] += 1
        cell[1] += 1 if sum(cnt) > 0 else 0
        cell[2] += cnt[0]
        cell[3] += cnt[1]
        cell[4] += cnt[2]
        cell[5] += len(aug) - len(red)
    got = dump(spark_out, "q272_pii_audit").set_index("source")
    errs = []
    if len(got) != len(agg):
        errs.append(f"source count {len(got)} != {len(agg)}")
    for src, c in agg.items():
        g = got.loc[src]
        if (int(g["n_docs"]), int(g["docs_with_pii"]), int(g["n_emails"]),
                int(g["n_phones"]), int(g["n_ips"]),
                int(g["chars_redacted"])) != tuple(c):
            errs.append(f"{src}: {tuple(int(g[k]) for k in g.index)} != {c}")
    return errs[:5]


def check_q273_savings(con, sf_dir, spark_out):
    """Savings ledger from the shared union-find labels + a literal
    per-cluster dict aggregation and bucket map."""
    edges, all_ids = _lsh_dup_edges(con, sf_dir)
    labels = _cc_labels(all_ids, edges)
    toks = _doc_tokens(con, sf_dir)
    per = {}
    for d, l in labels.items():
        m, ts, kept = per.get(l, (0, 0, 0))
        ntk = len(toks[d])
        per[l] = (m + 1, ts + ntk, kept + (ntk if d == l else 0))
    agg = {}
    for m, ts, kept in per.values():
        b = "1" if m == 1 else ("2" if m == 2 else (
            "3-4" if m <= 4 else ("5-8" if m <= 8 else "9+")))
        c = agg.setdefault(b, [0, 0, 0, 0])
        c[0] += 1
        c[1] += m
        c[2] += ts
        c[3] += ts - kept
    got = dump(spark_out, "q273_dedup_savings").set_index("size_bucket")
    errs = []
    if len(got) != len(agg):
        errs.append(f"bucket count {len(got)} != {len(agg)}")
    for b, c in agg.items():
        g = got.loc[b]
        if (int(g["n_clusters"]), int(g["n_docs"]), int(g["tokens_total"]),
                int(g["tokens_saved"])) != tuple(c):
            errs.append(f"{b}: counts differ")
        if float(g["saved_frac"]) != half_up_ratio(c[3] * 10000, c[2], 4):
            errs.append(f"{b}: saved_frac differs")
    return errs[:5]


def check_q274_syndication(con, sf_dir, spark_out):
    """Source-pair matrix straight from the recomputed >=0.5 jaccard edge
    set (not the engine's shared-stage plan)."""
    edges, _ = _lsh_dup_edges(con, sf_dir)
    docs = load(con, sf_dir, "documents", "doc_id, source")
    src = {int(r["doc_id"]): r["source"] for _, r in docs.iterrows()}
    agg = {}
    for a, b in edges:
        k = tuple(sorted((src[a], src[b])))
        agg[k] = agg.get(k, 0) + 1
    got = dump(spark_out, "q274_syndication_matrix") \
        .set_index(["src_lo", "src_hi"])
    errs = []
    if len(got) != len(agg):
        errs.append(f"pair-bucket count {len(got)} != {len(agg)}")
    for k, n in agg.items():
        if k not in got.index or int(got.loc[k, "n_pairs"]) != n:
            errs.append(f"{k}: n_pairs differs")
    return errs[:5]


def check_q275_contamination(con, sf_dir, spark_out, n=SHARED["overlap_n"]):
    """Exact containment recompute: hashlib md5 split draw, per-doc
    distinct 8-gram sets, literal set intersection against the train
    union."""
    import hashlib
    docs = load(con, sf_dir, "documents", "doc_id, text")
    split, grams = {}, {}
    for _, r in docs.iterrows():
        d = int(r["doc_id"])
        b = int(hashlib.md5(str(d).encode()).hexdigest()[:6],
                16) % SHARED["split_draw"]["mod"]
        split[d] = _split_of(b)[0]
        tk = tokenize(r["text"])
        grams[d] = {" ".join(tk[i:i + n]) for i in range(len(tk) - n + 1)}
    train = set().union(*(grams[d] for d in grams if split[d] == "train"))
    agg = {}
    for d, sp in split.items():
        if sp == "train":
            continue
        c = agg.setdefault(sp, [0, 0, 0, 0])
        hit = len(grams[d] & train)
        c[0] += 1
        c[1] += 1 if hit > 0 else 0
        c[2] += len(grams[d])
        c[3] += hit
    got = dump(spark_out, "q275_eval_contamination").set_index("split")
    errs = []
    if len(got) != len(agg):
        errs.append(f"split count {len(got)} != {len(agg)}")
    for sp, c in agg.items():
        g = got.loc[sp]
        if (int(g["n_docs"]), int(g["n_dirty"]), int(g["n_grams"]),
                int(g["n_hit_grams"])) != tuple(c):
            errs.append(f"{sp}: counts differ")
        exp_hit = 0.0 if c[2] == 0 else half_up_ratio(c[3] * 10000, c[2], 4)
        if float(g["dirty_frac"]) != half_up_ratio(c[1] * 10000, c[0], 4) \
                or float(g["hit_frac"]) != exp_hit:
            errs.append(f"{sp}: fractions differ")
    return errs[:5]


def check_q278_exact_audit(con, sf_dir, spark_out):
    """Exact-dup ledger from a literal dict keyed by raw text."""
    docs = load(con, sf_dir, "documents", "doc_id, text, n_chars")
    groups = {}
    for _, r in docs.iterrows():
        groups.setdefault(r["text"], []).append(
            (int(r["doc_id"]), int(r["n_chars"])))
    agg = {}
    for members in groups.values():
        members.sort()
        m = len(members)
        bt = sum(c for _, c in members)
        kept = members[0][1]
        b = "1" if m == 1 else ("2" if m == 2 else (
            "3-4" if m <= 4 else ("5-8" if m <= 8 else "9+")))
        c = agg.setdefault(b, [0, 0, 0, 0, 0])
        c[0] += 1
        c[1] += m
        c[2] += m - 1
        c[3] += bt
        c[4] += bt - kept
    got = dump(spark_out, "q278_exact_dedup_audit").set_index("size_bucket")
    errs = []
    if len(got) != len(agg):
        errs.append(f"bucket count {len(got)} != {len(agg)}")
    for b, c in agg.items():
        g = got.loc[b]
        if (int(g["n_groups"]), int(g["n_docs"]), int(g["n_dup_docs"]),
                int(g["bytes_total"]), int(g["bytes_saved"])) != tuple(c):
            errs.append(f"{b}: counts differ")
        if float(g["saved_frac"]) != half_up_ratio(c[4] * 10000, c[3], 4):
            errs.append(f"{b}: saved_frac differs")
    return errs[:5]


def check_q276_signals(con, sf_dir, spark_out):
    """Wide signals frame recomputed literally: Counter-based bigram model
    (the q260 textbook path) + per-doc token stats from tokenize()."""
    from collections import Counter
    docs = load(con, sf_dir, "documents",
                "doc_id, lang, source, n_chars, text")
    toks = {int(r["doc_id"]): tokenize(r["text"]) for _, r in docs.iterrows()}
    cb, cw = Counter(), Counter()
    per_doc = {}
    for d, tk in toks.items():
        if len(tk) < 2:
            continue
        bigs = Counter(zip(tk[:-1], tk[1:]))
        per_doc[d] = bigs
        for b, k in bigs.items():
            cb[b] += k
            cw[b[0]] += k
    v = float(len(cw))
    got = dump(spark_out, "q276_quality_signals").set_index("doc_id")
    errs = []
    if len(got) != len(per_doc):
        errs.append(f"row count {len(got)} != {len(per_doc)}")
    stop = set(SHARED["signal_stopwords"])
    meta = {int(r["doc_id"]): r for _, r in docs.iterrows()}
    for d, bigs in per_doc.items():
        tk, r, g = toks[d], meta[d], got.loc[d]
        n = len(tk)
        uq = len(set(tk))
        sl = sum(len(w) for w in tk)
        topk = max(Counter(tk).values())
        nb = sum(bigs.values())
        nll = sum(k * -math.log((cb[b] + 1) / (cw[b[0]] + v))
                  for b, k in bigs.items()) / nb
        if (g["lang"], g["source"], int(g["n_chars"]), int(g["n_tokens"]),
                bool(g["stopword_hit"])) != \
                (r["lang"], r["source"], int(r["n_chars"]), n,
                 len(set(tk) & stop) >= 1):
            errs.append(f"doc {d}: meta/stopword differ")
        if (float(g["uniq_ratio"]), float(g["mean_word_len"]),
                float(g["top_token_share"])) != \
                (half_up_ratio(uq * 10000, n, 4),
                 half_up_ratio(sl * 10000, n, 4),
                 half_up_ratio(topk * 10000, n, 4)):
            errs.append(f"doc {d}: ratios differ")
        if not close(g["avg_nll"], nll, 5.1e-7):
            errs.append(f"doc {d}: avg_nll differs")
    return errs[:5]


def check_q277_repetition(con, sf_dir, spark_out):
    """Within-doc repetition stats from Counter over literal gram lists."""
    from collections import Counter
    toks = _doc_tokens(con, sf_dir)
    got = dump(spark_out, "q277_repetition_audit").set_index("doc_id")
    errs = []
    n_rows = sum(1 for tk in toks.values() if len(tk) >= 3)
    if len(got) != n_rows:
        errs.append(f"row count {len(got)} != {n_rows}")
    for d, tk in toks.items():
        if len(tk) < 3:
            continue
        g2 = Counter(" ".join(tk[i:i + 2]) for i in range(len(tk) - 1))
        g3 = Counter(" ".join(tk[i:i + 3]) for i in range(len(tk) - 2))
        n2, n3 = sum(g2.values()), sum(g3.values())
        m2, m3 = max(g2.values()), max(g3.values())
        d2 = sum(c for c in g2.values() if c >= 2)
        g = got.loc[d]
        if (int(g["n_tokens"]), float(g["top2_share"]), float(g["top3_share"]),
                float(g["dup2_frac"]), bool(g["is_repetitive"])) != \
                (len(tk), half_up_ratio(m2 * 10000, n2, 4),
                 half_up_ratio(m3 * 10000, n3, 4),
                 half_up_ratio(d2 * 10000, n2, 4), m2 * 5 > n2):
            errs.append(f"doc {d}: repetition stats differ")
    return errs[:5]


# ------------------------------------------------- streaming lanes
# The streaming lanes run a watermarked query over the events file; these
# recompute what the query must return once every row is processed, from
# the raw events with numpy, without windows, watermarks or state.

def _events_us(con, sf_dir):
    """Events with `ts` as explicit µs since epoch (int64)."""
    ev = load(con, sf_dir, "events", "event_id, ts, user_id, event_type")
    ev["ts_us"] = ev["ts"].to_numpy().astype("datetime64[us]").astype("int64")
    return ev


def check_q36_streaming_hot(con, sf_dir, spark_out):
    """Click counts per (UTC day, event_id % 500): every click lands in
    exactly one 1-day window, so the drained complete-mode table is the
    plain count over all clicks."""
    from collections import Counter
    ev = _events_us(con, sf_dir)
    c = ev[ev["event_type"] == "click"]
    day_us = 86400 * 1000000
    # floor division: days before 1970 still floor to their own midnight
    days = c["ts_us"].to_numpy() // day_us
    news = np.fmod(c["event_id"].to_numpy(), 500)  # Spark's % truncates
    exp = Counter(zip(days.tolist(), news.tolist()))
    got = dump(spark_out, "q36_streaming_hot")
    gdays = (pd.to_datetime(got["day"]).to_numpy().astype("datetime64[D]")
             .astype("int64"))
    have = {}
    for d, n, k in zip(gdays.tolist(), got["newsId"].tolist(),
                       got["clicks"].tolist()):
        have[(d, n)] = have.get((d, n), 0) + int(k)
    errs = []
    if len(got) != len(exp):
        errs.append(f"row count {len(got)} != {len(exp)} (day, newsId) groups")
    bad = sum(1 for key, k in exp.items() if have.get(key) != k)
    extra = sum(1 for key in have if key not in exp)
    if bad or extra:
        errs.append(f"{bad}/{len(exp)} groups miscounted, {extra} extra groups")
    return errs


def check_q66_interval_join(con, sf_dir, spark_out, window_us=3600 * 1000000):
    """Click attribution pairs: every (view, click) of one user with
    0 <= click_ts - view_ts <= 1 h, found by binary search over each
    user's views sorted by time."""
    ev = _events_us(con, sf_dir)
    v = ev[ev["event_type"] == "view"]
    c = ev[ev["event_type"] == "click"]
    users = pd.Index(pd.unique(ev["user_id"]))
    t0 = int(ev["ts_us"].min())
    # one sortable key per (user, ts): users are stride apart, and stride
    # exceeds the time span plus the window, so no search crosses users
    stride = int(ev["ts_us"].max()) - t0 + window_us + 1
    vkey = users.get_indexer(v["user_id"]) * stride + (v["ts_us"].to_numpy() - t0)
    order = np.argsort(vkey, kind="stable")
    vkey = vkey[order]
    vid = v["event_id"].to_numpy()[order]
    vts = v["ts_us"].to_numpy()[order]
    ckey = users.get_indexer(c["user_id"]) * stride + (c["ts_us"].to_numpy() - t0)
    lo = np.searchsorted(vkey, ckey - window_us, side="left")
    hi = np.searchsorted(vkey, ckey, side="right")
    n = hi - lo
    ci = np.repeat(np.arange(len(c)), n)
    vi = np.concatenate([np.arange(a, b) for a, b in zip(lo, hi)]) \
        if len(c) else np.array([], dtype="int64")
    exp = pd.DataFrame({
        "userId": c["user_id"].to_numpy()[ci], "view_id": vid[vi],
        "click_id": c["event_id"].to_numpy()[ci],
        "gap_us": c["ts_us"].to_numpy()[ci] - vts[vi]})
    cols = ["userId", "view_id", "click_id", "gap_us"]
    got = dump(spark_out, "q66_interval_join")[cols].astype("int64")
    errs = []
    if len(got) != len(exp):
        errs.append(f"row count {len(got)} != {len(exp)} attribution pairs")
    diff = exp.astype("int64").merge(got, on=cols, how="outer", indicator=True)
    missing = int((diff["_merge"] == "left_only").sum())
    extra = int((diff["_merge"] == "right_only").sum())
    dup = int(got.duplicated().sum())
    if missing or extra or dup:
        errs.append(f"{missing} pairs missing, {extra} extra, {dup} duplicated"
                    f" (of {len(exp)})")
    return errs


CHECKS = {
    "q50_als_recommend": check_q50_als_audit,
    "q74_sketches": check_q74_sketch_audit,
    "q1_agg": check_q1_agg,
    "q2_topk_per_group": check_q2_topk,
    "q3_join_agg": check_q3_joinagg,
    "q4_semi_join": check_q4_semi,
    "q5_anti_join": check_q5_anti,
    "q6_date_window": check_q6_datewin,
    "q7_hot_parts": check_q7_hotparts,
    "q8_distinct_per_day": check_q8_distinct,
    "q9_user_topk": check_q9_usertopk,
    "q10_global_agg": check_q10_global,
    "q11_star_join": check_q11_star,
    "q48_sql_surface": check_q48_sql,
    "q52_rollup": check_q52_rollup,
    "q55_cube": check_q55_cube,
    "q63_full_outer": check_q63_fullouter,
    "q71_pivot": check_q71_pivot,
    "q72_unpivot": check_q72_unpivot,
    "q75_setops": check_q75_setops,
    "q76_grouping_sets": check_q76_gsets,
    "q77_bloom_semi": check_q77_bloom,
    "q84_bucketed_join": check_q84_bucketed,
    "q91_profile_orders": check_q91_profile,
    "q113_dq_checks": check_q113_dq,
    "q120_multiway_join": check_q120_multiway,
    "q143_null_aware_antijoin": check_q143_nullanti,
    "q146_agg_surface": check_q146_aggsurf,
    "q12_running_sum": check_q12_running,
    "q49_json_props": check_q49_json,
    "q53_asof_join": check_q53_asof,
    "q56_range_join": check_q56_range,
    "q73_gapfill_locf": check_q73_locf,
    "q200_daily_dashboard": check_q200_dashboard,
    "q218_weighted_profiles": check_q218_weighted,
    "q221_date_loop": check_q221_dateloop,
    "q224_lateral_topk": check_q224_lateral,
    "q245_rec_lists_capped": check_q245_capped,
    "q246_rec_cosine_capped": check_q246_capped_cos,
    "q13_token_stats": check_q13_tokens,
    "q16_lang_stats": check_q16_langstats,
    "q17_word_freq": check_q17_wordfreq,
    "q20_unique_users": check_q20_users,
    "q78_scd2": check_q78_scd2,
    "q86_sliding_windows": check_q86_sliding,
    "q87_temporal_join": check_q87_temporal,
    "q137_share_of_total": check_q137_share,
    "q181_skew_report": check_q181_skew,
    "q182_lang_vocab_overlap": check_q182_overlap,
    "q188_ohlc": check_q188_ohlc,
    "q193_resize_grid": check_q193_grid,
    "q194_audio_energy": check_q194_audio,
    "q211_debounce": check_q211_debounce,
    "q215_rec_diversity": check_q215_diversity,
    "q217_freshness": check_q217_freshness,
    "q226_url_parse": check_q226_urls,
    "q228_event_pattern": check_q228_cep,
    "q241_snapshot_diff": check_q241_diff,
    "q80_split_stats": check_q80_splits,
    "q81_pareto": check_q81_pareto,
    "q89_value_buckets": check_q89_buckets,
    "q92_value_histogram": check_q92_hist,
    "q111_label_centroids": check_q111_centroids,
    "q112_mi_contingency": check_q112_mi,
    "q148_new_user_curve": check_q148_curve,
    "q150_table_checksum": check_q150_checksum,
    "q154_target_encoding": check_q154_loo,
    "q162_geo_bucket_join": check_q162_geo,
    "q163_wow_lift": check_q163_wow,
    "q167_attribution": check_q167_attr,
    "q203_survivorship": check_q203_survivorship,
    "q205_ab_srm": check_q205_srm,
    "q206_stump_split": check_q206_stump,
    "q212_pct_of_parent": check_q212_pct,
    "q213_forecast_calibration": check_q213_calibration,
    "q216_cohort_ltv": check_q216_ltv,
    "q243_path_rollup": check_q243_rollup,
    "q93_boilerplate": check_q93_boiler,
    "q94_decontam": check_q94_decontam,
    "q96_lang_mix": check_q96_langmix,
    "q122_doc_chunks": check_q122_chunks,
    "q199_curation_pipeline": check_q199_pipeline,
    "q229_vocab_oov": check_q229_oov,
    "q230_mix_weights": check_q230_mix,
    "q239_lm_quality": check_q239_lmq,
    "q255_mix_sample": check_q255_mix_sample,
    "q257_rule_funnel": check_q257_funnel,
    "q62_hash_sample": check_q62_hsample,
    "q97_winsorize": check_q97_winsorize,
    "q103_cms_heavy": check_q103_cms,
    "q104_equidepth": check_q104_equidepth,
    "q105_conversion_paths": check_q105_paths,
    "q109_weighted_sample": check_q109_wsample,
    "q152_negative_sampling": check_q152_negsample,
    "q153_feature_hashing": check_q153_fhash,
    "q165_time_to_convert": check_q165_ttc,
    "q169_max_concurrency": check_q169_concurrency,
    "q234_kmv_sketch": check_q234_kmv,
    "q70_dedup_clusters": check_q70_clusters,
    "q98_dedup_keep_one": check_q98_keep_one,
    "q210_incremental_dedup": check_q210_incremental,
    "q225_fuzzy_block_dedup": check_q225_fuzzy,
    "q236_fuzzy_clusters": check_q236_clusters,
    "q14_quality_score": check_q14_quality,
    "q15_dedup_exact": check_q15_dedup,
    "q33_lang_id": check_q33_langid,
    "q34_fingerprint": check_q34_fingerprint,
    "q42_token_budget": check_q42_budget,
    "q54_sessionize": check_q54_sessionize,
    "q65_pack_sequences": check_q65_pack,
    "q79_repetition": check_q79_repetition,
    "q95_token_entropy": check_q95_entropy,
    "q99_funnel": check_q99_funnel,
    "q108_retention": check_q108_retention,
    "q147_gap_islands": check_q147_gaps,
    "q187_trigram_paths": check_q187_trigrams,
    "q209_longest_streak": check_q209_streaks,
    "q83_pmi_cooccur": check_q83_pmi,
    "q110_triangles": check_q110_triangles,
    "q121_item_cf": check_q121_itemcf,
    "q166_rfm": check_q166_rfm,
    "q231_gapfill_linear": check_q231_gapfill,
    "q232_quantile_norm": check_q232_qnorm,
    "q233_power_factor": check_q233_power,
    "q235_seasonal": check_q235_seasonal,
    "q238_assoc_rules": check_q238_assoc,
    "q244_two_hop": check_q244_twohop,
    "q253_dup_spans": check_q253_spans,
    "q198_ivfpq": check_q198_ivfpq,
    "q214_filtered_ann": check_q214_filtered,
    "q242_hard_negatives": check_q242_hardneg,
    "q29_embed_norm": check_q29_norm,
    "q31_lsh_buckets": check_q31_lsh,
    "q32_lsh_ann_pairs": check_q32_lsh_pairs,
    "q43_embed_neardup": check_q43_neardup,
    "q44_ivf_cells": check_q44_ivf,
    "q45_ivf_topk": check_q45_ivf_topk,
    "q67_pq_codes": check_q67_pq,
    "q68_pq_topk": check_q68_pq_topk,
    "q37_sim_weighted": check_q37,
    "q38_rank_sim": check_q38,
    "q40_textrank_rec": check_q40,
    "q117_precision_textrank": check_q117,
    "q222_tuple_rank_sim": check_q222,
    "q247_bpe_merges": check_q247,
    "q248_bpe_vocab": check_q248,
    "q249_bpe_fertility": check_q249,
    "q18_tfidf_topk": check_q18,
    "q19_hot_topics": check_q19,
    "q21_rec_dot": check_q21,
    "q22_rec_cosine": check_q22,
    "q23_rec_lists": check_q23,
    "q220_rec_unbounded": check_q220,
    "q24_precision_hot": check_q24,
    "q47_hot_topics_agg": check_q47,
    "q25_minhash_sig": check_q25,
    "q26_lsh_pairs": check_q26,
    "q279_minhash_estimate": check_q279_minhash_estimate,
    "q280_estimate_clusters": check_q280_estimate_clusters,
    "q281_star_dedup_clusters": check_q281_star_clusters,
    "q285_star2_dedup_clusters": check_q285_star2_clusters,
    "q286_star_rescue_clusters": check_q286_star_rescue_clusters,
    "q288_incremental_clusters": check_q288_incremental_clusters,
    "q263_incremental_dedup": check_q263_incremental_dedup,
    "q36_streaming_hot": check_q36_streaming_hot,
    "q66_interval_join": check_q66_interval_join,
    "q282_estimate_savings": check_q282_estimate_savings,
    "q283_estimate_data_card": check_q283_estimate_data_card,
    "q39_textrank_kw": check_q39,
    "q46_precision_rec": check_q46,
    "q27_ngram_jaccard": check_q27_jaccard,
    "q28_simhash": check_q28_simhash,
    "q30_ann_topk": check_q30_ann,
    "q100_ewma_trend": check_q100_ewma,
    "q119_user_set_sim": check_q119_user_sim,
    "q123_bigram_lm": check_q123_bigram_lm,
    "q124_rolling_zscore": check_q124_zscore,
    "q125_ndcg": check_q125_ndcg,
    "q133_recall": check_q133_recall,
    "q134_map_eval": check_q134_map,
    "q135_markov_transitions": check_q135_markov,
    "q185_transition_entropy": check_q185_entropy,
    "q201_bm25": check_q201_bm25,
    "q202_hybrid_rrf": check_q202_rrf,
    "q90_corr_matrix": check_q90_corr,
    "q116_time_weighted_avg": check_q116_twa,
    "q151_kmeans": check_q151_kmeans,
    "q237_personalized_pr": check_q237_ppr,
    "q250_chunk_pack": check_q250_chunk_pack,
    "q251_chunk_summary": check_q251_chunk_summary,
    "q252_semantic_dedup": check_q252_semantic_dedup,
    "q57_percentiles": check_q57_percentiles,
    "q85_zipf_slope": check_q85_zipf,
    "q101_pagerank": check_q101_pagerank,
    "q118_mad_outliers": check_q118_mad,
    "q145_gini": check_q145_gini,
    "q149_weighted_median": check_q149_weighted_median,
    "q164_chi_square": check_q164_chi2,
    "q176_welch_ttest": check_q176_welch,
    "q177_benford": check_q177_benford,
    "q184_clustering_coeff": check_q184_clustering,
    "q186_degree_assortativity": check_q186_assortativity,
    "q208_theil_sen": check_q208_theil_sen,
    "q254_dsir_weights": check_q254_dsir,
    "q256_shard_manifest": check_q256_shard_manifest,
    "q258_avro_roundtrip": check_q258_avro,
    "q259_xml_roundtrip": check_q259_xml,
    "q260_bigram_lm": check_q260_bigram_lm,
    "q261_pmi_collocations": check_q261_pmi,
    "q262_split_manifest": check_q262_split,
    "q264_unimax_epochs": check_q264_unimax,
    "q267_ccnet_buckets": check_q267_ccnet,
    "q268_split_leakage": check_q268_leakage,
    "q269_lsh_recall_audit": check_q269_recall,
    "q270_data_card": check_q270_data_card,
    "q265_topk_coverage": check_q265_coverage,
    "q266_pair_pack": check_q266_pair_pack,
    "q271_dup_span_audit": check_q271_dup_spans,
    "q272_pii_audit": check_q272_pii,
    "q273_dedup_savings": check_q273_savings,
    "q274_syndication_matrix": check_q274_syndication,
    "q275_eval_contamination": check_q275_contamination,
    "q276_quality_signals": check_q276_signals,
    "q277_repetition_audit": check_q277_repetition,
    "q278_exact_dedup_audit": check_q278_exact_audit,
}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--spark-out", required=True)
    ap.add_argument("--only", help="comma-separated lane subset")
    args = ap.parse_args()
    lanes = (args.only.split(",") if args.only else sorted(CHECKS))
    con = duckdb.connect()
    n_fail = 0
    for lane in lanes:
        try:
            errs = CHECKS[lane](con, args.sf_dir, args.spark_out)
        except Exception as e:  # noqa: BLE001 - report and continue
            errs = [f"check crashed: {type(e).__name__}: {e}"]
        if errs:
            n_fail += 1
            for e in errs:
                print(f"FAIL {lane}: {e}")
        else:
            print(f"PASS {lane}")
    print(f"== {len(lanes) - n_fail} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
