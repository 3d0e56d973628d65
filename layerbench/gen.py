"""Seeded, single-process input generator for the layered benchmark.

Two families of parquet tables, both a pure function of ``--seed``:

- ``star``: the ten registry tables (region nation customer supplier
  part orders lineitem events documents embeddings) with the column
  names, physical types and value domains the registry queries read
  (TPC-H-like star schema, an ``events`` stream, a text corpus with
  planted near duplicates, and label-clustered unit embeddings).
- ``genetics``: the ``gwas_coloc_chain`` inputs. ``sumstats`` has the
  columns of ``queries.SUMSTATS_SQL`` plus ``standardError`` (the QC
  step divides beta by it); ``tags`` has the columns of
  ``queries.TAGS_SQL``; ``credible_set`` folds ``tags`` into one row
  per locus with a ``locus`` array, as ``queries._overlaps_df`` does.
  Positions are clustered (bursts of variants separated by wide gaps)
  and loci come in groups of gwas/eqtl credible sets sharing tag
  variants, with posteriors summing to 1 per locus.

Usage: python3 layerbench/gen.py --seed 7 --out DIR [--sf 0.01]
       [--loci 4000]
Prints one JSON object: rows and bytes per table.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(out_dir: str, name: str, cols: dict) -> dict:
    path = os.path.join(out_dir, f"{name}.parquet")
    table = pa.table(cols)
    pq.write_table(table, path, compression="snappy")
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), size=n, p=p)]


def _days(rng, start: dt.date, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    offs = rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # planted near duplicate: an earlier document plus a marker
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_pick(rng, WORDS, k)))
    return {
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(_pick(rng, LANGS, n, LANG_P), type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    centers = rng.normal(0.0, 1.0, (10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n)
    x = 0.15 * centers[label] + rng.normal(0.0, 1.0 / 8.0, (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), type=pa.int64()),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(label, type=pa.int32()),
    }


def star_tables(out_dir: str, sf: float, seed: int) -> dict:
    """The ten registry tables at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(10, int(15_000 * sf))
    sizes = {}
    sizes["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), type=pa.int32()),
        "r_name": pa.array(REGIONS, type=pa.string()),
    })
    sizes["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], type=pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32()),
    })
    sizes["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], type=pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), type=pa.float64()),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), type=pa.string()),
    })
    sizes["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], type=pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), type=pa.float64()),
    })
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    sizes["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), type=pa.int64()),
        "p_name": pa.array(_pick(rng, names, n_part), type=pa.string()),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)], type=pa.string()),
        "p_type": pa.array(_pick(rng, P_TYPES, n_part), type=pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2), type=pa.float64()),
    })
    sizes["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_ord), type=pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord), type=pa.float64()),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n_ord),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_ord), type=pa.string()),
    })
    # as in TPC-H, each order has 1-7 lines numbered 1..n, so
    # (l_orderkey, l_linenumber) is unique
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    first_line = np.repeat(np.cumsum(lines) - lines, lines)
    sizes["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord), lines), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), type=pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - first_line + 1, type=pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), type=pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li), type=pa.float64()),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_li), 2), type=pa.float64()),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_li), 2), type=pa.float64()),
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_li), type=pa.string()),
        "l_linestatus": pa.array(_pick(rng, ["F", "O"], n_li), type=pa.string()),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, n_li),
    })
    # event timestamps: a Poisson stream over 30 days, microsecond precision
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    sizes["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), type=pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), type=pa.int64()),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n_ev), type=pa.string()),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01), type=pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], type=pa.string()),
    })
    sizes["documents"] = _write(out_dir, "documents", _documents(rng, n_doc))
    sizes["embeddings"] = _write(out_dir, "embeddings", _embeddings(rng, n_emb))
    return sizes


def genetics_tables(out_dir: str, seed: int, n_loci: int) -> dict:
    """``sumstats``, ``tags`` and ``credible_set`` for the step chain."""
    rng = np.random.default_rng([seed, 2])
    chroms = [str(c) for c in range(1, 23)]
    n_studies = 20

    # -- summary statistics: 20 studies, clustered positions
    ss_cols: dict[str, list] = {k: [] for k in (
        "studyId", "variantId", "chromosome", "position", "beta",
        "pValueMantissa", "pValueExponent", "standardError")}
    n_bursts = max(1, n_loci // 8)
    for s in range(n_studies):
        study = f"GCST{s + 1:06d}"
        burst_chrom = _pick(rng, chroms, n_bursts)
        burst_pos = rng.integers(1_000_000, 240_000_000, n_bursts)
        burst_len = rng.integers(5, 51, n_bursts)
        chrom = np.repeat(burst_chrom, burst_len)
        pos = np.repeat(burst_pos, burst_len) + rng.integers(0, 500_000, int(burst_len.sum()))
        # one row per (chromosome, position) within a study
        locus_key = np.char.add(np.char.add(chrom.astype(str), ":"), pos.astype(str))
        keep = np.unique(locus_key, return_index=True)[1]
        chrom, pos = chrom[keep], pos[keep]
        n = len(pos)
        exp = -rng.integers(1, 8, n)
        strong = rng.random(n) < 0.05
        exp[strong] = -rng.integers(8, 40, int(strong.sum()))
        ss_cols["studyId"].extend([study] * n)
        ss_cols["variantId"].extend(f"{c}_{p}_A_C" for c, p in zip(chrom, pos))
        ss_cols["chromosome"].extend(chrom)
        ss_cols["position"].extend(pos.tolist())
        beta = rng.normal(0.0, 0.1, n)
        beta[beta == 0.0] = 1e-6
        ss_cols["beta"].extend(beta.tolist())
        ss_cols["pValueMantissa"].extend(rng.uniform(1.0, 10.0, n).astype(np.float32).tolist())
        ss_cols["pValueExponent"].extend(exp.tolist())
        ss_cols["standardError"].extend(rng.uniform(0.01, 1.0, n).tolist())
    sizes = {"sumstats": _write(out_dir, "sumstats", {
        "studyId": pa.array(ss_cols["studyId"], type=pa.string()),
        "variantId": pa.array(ss_cols["variantId"], type=pa.string()),
        "chromosome": pa.array(ss_cols["chromosome"], type=pa.string()),
        "position": pa.array(ss_cols["position"], type=pa.int32()),
        "beta": pa.array(ss_cols["beta"], type=pa.float64()),
        "pValueMantissa": pa.array(ss_cols["pValueMantissa"], type=pa.float32()),
        "pValueExponent": pa.array(ss_cols["pValueExponent"], type=pa.int32()),
        "standardError": pa.array(ss_cols["standardError"], type=pa.float64()),
    })}

    # -- credible-set tags: groups of 1-4 loci over one region's variant pool
    t_cols: dict[str, list] = {k: [] for k in (
        "studyLocusId", "studyId", "studyType", "chromosome", "tagVariantId",
        "logBF", "beta", "posteriorProbability")}
    locus_no = 0
    while locus_no < n_loci:
        chrom = chroms[int(rng.integers(0, len(chroms)))]
        start = int(rng.integers(1_000_000, 240_000_000))
        pool = np.unique(start + rng.integers(0, 1_500_000, 40))
        group = 1 if rng.random() < 0.7 else int(rng.integers(2, 5))
        for _ in range(min(group, n_loci - locus_no)):
            locus_no += 1
            k = int(rng.integers(1, min(30, len(pool)) + 1))
            tags = rng.choice(pool, size=k, replace=False)
            score = rng.integers(1, 98, k).astype(np.float64)
            is_gwas = rng.random() < 0.6
            t_cols["studyLocusId"].extend([f"L{locus_no:07d}"] * k)
            t_cols["studyId"].extend([f"{'GCST' if is_gwas else 'QTL'}{int(rng.integers(1, n_studies + 1)):06d}"] * k)
            t_cols["studyType"].extend(["gwas" if is_gwas else "eqtl"] * k)
            t_cols["chromosome"].extend([chrom] * k)
            t_cols["tagVariantId"].extend(f"{chrom}_{p}_A_C" for p in tags)
            t_cols["logBF"].extend((rng.integers(0, 150, k) / 10.0).tolist())
            t_cols["beta"].extend(rng.normal(0.0, 0.1, k).tolist())
            t_cols["posteriorProbability"].extend((score / score.sum()).tolist())
    tag_tab = {
        "studyLocusId": pa.array(t_cols["studyLocusId"], type=pa.string()),
        "studyId": pa.array(t_cols["studyId"], type=pa.string()),
        "studyType": pa.array(t_cols["studyType"], type=pa.string()),
        "chromosome": pa.array(t_cols["chromosome"], type=pa.string()),
        "tagVariantId": pa.array(t_cols["tagVariantId"], type=pa.string()),
        "logBF": pa.array(t_cols["logBF"], type=pa.float64()),
        "beta": pa.array(t_cols["beta"], type=pa.float64()),
        "posteriorProbability": pa.array(t_cols["posteriorProbability"], type=pa.float64()),
    }
    sizes["tags"] = _write(out_dir, "tags", tag_tab)

    # -- credible_set: tags folded into locus arrays (queries._overlaps_df)
    tags = pa.table(tag_tab)
    locus_struct = pa.StructArray.from_arrays(
        [tags["tagVariantId"].combine_chunks(),
         tags["posteriorProbability"].combine_chunks(),
         tags["logBF"].combine_chunks(),
         tags["beta"].combine_chunks(),
         pa.nulls(tags.num_rows, pa.float32()),
         pa.nulls(tags.num_rows, pa.int32())],
        names=["variantId", "posteriorProbability", "logBF", "beta",
               "pValueMantissa", "pValueExponent"],
    )
    ids = np.asarray(t_cols["studyLocusId"], dtype=object)
    bounds = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1], True])
    first = bounds[:-1]
    locus = pa.ListArray.from_arrays(pa.array(bounds, type=pa.int32()), locus_struct)
    sl_ids = ids[first]
    sl_chrom = np.asarray(t_cols["chromosome"], dtype=object)[first]
    sizes["credible_set"] = _write(out_dir, "credible_set", {
        "studyLocusId": pa.array(sl_ids, type=pa.string()),
        "studyId": pa.array(np.asarray(t_cols["studyId"], dtype=object)[first], type=pa.string()),
        "studyType": pa.array(np.asarray(t_cols["studyType"], dtype=object)[first], type=pa.string()),
        "chromosome": pa.array(sl_chrom, type=pa.string()),
        "locus": locus,
        "region": pa.array([f"{c}:{i}" for c, i in zip(sl_chrom, sl_ids)], type=pa.string()),
    })
    return sizes


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf", type=float, default=None, help="write the star tables at this scale")
    ap.add_argument("--loci", type=int, default=None, help="write the genetics tables with this many loci")
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    sizes = {}
    if args.sf is not None:
        sizes.update(star_tables(args.out, args.sf, args.seed))
    if args.loci is not None:
        sizes.update(genetics_tables(args.out, args.seed, args.loci))
    print(json.dumps(sizes))


if __name__ == "__main__":
    main()
