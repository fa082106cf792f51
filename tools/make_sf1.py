"""Deterministic sf1 generator: a 10x scale-up of /root/testdata/sf0.1.

The test data ships sf{0.001,0.01,0.1}; the scale-proof bench
needs one decade more. This builds sf1 (~6M lineitem) the way
TPC-H itself scales: fact/entity tables grow 10x, the fixed dimensions
(region, nation) stay put.

Replication is BY KEY-SPACE, not by row copy: replica r in 0..9 offsets
every scaled key (custkey, suppkey, partkey, orderkey, event_id,
user_id, doc_id, vec_id) by r * 10_000_000, so each replica is a
self-contained universe — join fan-outs, groups-per-key, and
events-per-user stay at their sf0.1 values while key cardinality grows
10x, which is exactly how a real corpus grows (more entities, not
hotter ones).

Two tables need more than key offsets to avoid DEGENERATE scaling:

- documents: a verbatim 10x copy would give every doc 9 exact clones,
  blowing every MinHash/SimHash bucket up ~10x and the pair output up
  ~100x — that benches the degenerate corpus, not the 10x corpus. For
  replica r>0 every whitespace token is prefixed with ``r{r}_`` — an
  isomorphic token-space remap, so intra-replica duplicate/near-dup
  structure is EXACTLY preserved while cross-replica shingle overlap is
  zero. The label is a FIXED-WIDTH letters-only triple (``r{aaa}_``,
  round 8): fixed width + the ``_`` delimiter keep the prefix
  prefix-free for any replica count up to 26³, and letters-only keeps
  per-doc statistics unchanged — the original digit label (``r57_``)
  pushed digit_frac past the quality filter's too_numeric bound and
  killed ~90% of scaled docs, so funnel-shaped queries read a corpus
  artifact instead of scale. n_chars is recomputed from the rewritten
  text.
- embeddings: verbatim copies would make every vector its own 10-way
  exact tie in similarity queries. Two modes (``--emb-mode``):

  * ``noise`` (default, the r5/r6 corpora): replica r>0 gets seeded
    N(0, 0.02) noise per component (numpy, seed=r). Cluster structure is
    preserved, but cross-replica copies of one base vector stay near-dups
    (cos ~0.97), so pair-enumeration output grows QUADRATICALLY in the
    replica count — a worst-case duplicate-explosion corpus, honest for
    throughput but wrong for reading a time-vs-input exponent.
  * ``rotate`` (the natural-growth corpus): replica
    r>0 is the base matrix times a seeded random ORTHOGONAL matrix (QR of
    a seed-r Gaussian). Rotation preserves every intra-replica cosine
    EXACTLY — near-dup density per replica is constant by construction,
    the same isomorphic-remap trick the documents' token rewrite uses —
    while cross-replica similarity collapses to that of random vectors
    (E[cos]=0, sd~1/sqrt(dim)=0.125), far below every query threshold. So
    output grows ~linearly with input and the decade reads time-vs-input
    like every other query.

Everything is seeded/closed-form: two runs produce byte-identical
logical content (row order within parquet row groups may differ; every
consumer sorts or aggregates).

Output defaults to ``<repo>/.sf1`` (gitignored — ~200 MB of parquet
does not belong in history; this script IS the artifact).
"""

from __future__ import annotations

import argparse
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
STRIDE = 10_000_000
REPLICAS = 10


def copy_fixed(con: duckdb.DuckDBPyConnection, table: str, out_dir: str) -> None:
    con.sql(
        f"COPY (SELECT * FROM '{SRC}/{table}.parquet') "
        f"TO '{out_dir}/{table}.parquet' (FORMAT PARQUET)"
    )


CHUNKS = 1
WANTED: set[str] | None = None  # None = all tables; else generate only these


def scale_sql(con: duckdb.DuckDBPyConnection, table: str, select: str, out_dir: str) -> None:
    if WANTED is not None and table not in WANTED:
        return
    # ORDER BY r: write replicas back-to-back, not interleaved. This is the
    # layout a real corpus HAS — it grows by appending ingest batches, so
    # each parquet row group covers one batch's key range. Interleaved
    # replicas gave every row group the full key span (min 0, max 9e7),
    # which silently disabled parquet row-group stats pruning for every
    # key-range predicate and made selective queries scan-bound at scale
    # (stream_sliding_per_key's 1.10 exponent in BENCH_sf10 was exactly
    # this: filter user_id <= 10 keeps only replica-0 rows, but had to
    # decode all 100 replicas to find them).
    #
    # CHUNKS > 1 (sf100): the table becomes a directory of chunk files,
    # each covering a contiguous replica range — same append-grown layout,
    # but each COPY sorts only its slice instead of spilling a 600M-row
    # global sort. Spark/DuckDB both read the directory transparently.
    if CHUNKS == 1:
        con.sql(
            f"COPY (SELECT {select} FROM '{SRC}/{table}.parquet', range({REPLICAS}) reps(r) "
            f"ORDER BY r) "
            f"TO '{out_dir}/{table}.parquet' (FORMAT PARQUET)"
        )
        return
    os.makedirs(f"{out_dir}/{table}.parquet", exist_ok=True)
    per = (REPLICAS + CHUNKS - 1) // CHUNKS
    for ci in range(CHUNKS):
        lo, hi = ci * per, min((ci + 1) * per, REPLICAS)
        if lo >= hi:
            break
        con.sql(
            f"COPY (SELECT {select} FROM '{SRC}/{table}.parquet', "
            f"range({lo}, {hi}) reps(r) ORDER BY r) "
            f"TO '{out_dir}/{table}.parquet/chunk{ci:03d}.parquet' (FORMAT PARQUET)"
        )


def main() -> None:
    global REPLICAS, CHUNKS, WANTED
    ap = argparse.ArgumentParser()
    default_out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".sf1"
    )
    ap.add_argument("--out", default=default_out)
    ap.add_argument(
        "--replicas",
        type=int,
        default=REPLICAS,
        help="replication factor over sf0.1 (10 -> sf1, 100 -> sf10, "
        "1000 -> sf100); the fixed-width letters-only token remap "
        "'r<aaa>_' is prefix-free, so cross-replica shingle overlap is "
        "zero for any replica count up to 26^3, and digit-free so the "
        "quality filter's digit_frac sees base-corpus statistics",
    )
    ap.add_argument(
        "--chunks",
        type=int,
        default=1,
        help="write each scaled table as a directory of N chunk files "
        "(contiguous replica ranges) instead of one file — use for sf100 "
        "so no COPY needs a 600M-row external sort",
    )
    ap.add_argument(
        "--tables",
        default=None,
        help="comma-separated subset of tables to generate (default: all). "
        "Use for sf100, where only the headline-query tables are benched "
        "and e.g. 'part' would be 17 GB of dead weight",
    )
    ap.add_argument(
        "--emb-mode",
        choices=("noise", "rotate", "rotate-dup"),
        default="noise",
        help="embeddings replication: 'noise' keeps cross-replica copies "
        "near-identical (duplicate-explosion corpus, quadratic pair "
        "output); 'rotate' applies a seeded orthogonal rotation per "
        "replica (natural-growth corpus: intra-replica cosines exactly "
        "preserved, cross-replica similarity random, ~linear pair output)",
    )
    args = ap.parse_args()
    REPLICAS = args.replicas
    CHUNKS = args.chunks
    out = args.out
    WANTED = set(args.tables.split(",")) if args.tables else None

    def want(table: str) -> bool:
        return WANTED is None or table in WANTED

    os.makedirs(out, exist_ok=True)

    con = duckdb.connect()

    # Fixed dimensions: TPC-H keeps these constant across SFs.
    if want("region"):
        copy_fixed(con, "region", out)
    if want("nation"):
        copy_fixed(con, "nation", out)

    scale_sql(
        con,
        "customer",
        f"c_custkey + r*{STRIDE} AS c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment",
        out,
    )
    scale_sql(
        con,
        "supplier",
        f"s_suppkey + r*{STRIDE} AS s_suppkey, s_name, s_nationkey, s_acctbal",
        out,
    )
    scale_sql(
        con,
        "part",
        f"p_partkey + r*{STRIDE} AS p_partkey, p_name, p_brand, p_type, p_size, p_retailprice",
        out,
    )
    scale_sql(
        con,
        "orders",
        f"o_orderkey + r*{STRIDE} AS o_orderkey, o_custkey + r*{STRIDE} AS o_custkey, "
        "o_orderstatus, o_totalprice, o_orderdate, o_orderpriority",
        out,
    )
    scale_sql(
        con,
        "lineitem",
        f"l_orderkey + r*{STRIDE} AS l_orderkey, l_partkey + r*{STRIDE} AS l_partkey, "
        f"l_suppkey + r*{STRIDE} AS l_suppkey, l_linenumber, l_quantity, l_extendedprice, "
        "l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate",
        out,
    )
    scale_sql(
        con,
        "events",
        f"event_id + r*{STRIDE} AS event_id, ts, user_id + r*{STRIDE} AS user_id, "
        "event_type, value, props",
        out,
    )
    # Documents: isomorphic token remap per replica (see module docstring).
    # The replica label is LETTERS-ONLY ('r' || aaa..zzz || '_'): the old
    # digit label ('r57_') injected 1-3 digits into every token, pushing
    # digit_frac past quality_filter_composite's too_numeric bound and
    # killing ~90% of scaled docs at the quality stage — replica docs
    # must be statistically indistinguishable from base docs (the same
    # natural-growth principle as the embeddings' rotate mode). Fixed
    # 3-letter width keeps the prefix prefix-free for any replica count
    # up to 26^3; mean token length grows by a constant +5 chars, which
    # the corpus' max mean_tok (5.73 at sf0.1) keeps well under the 12.0
    # quality bound.
    alpha = (
        "chr(CAST(97 + (r // 676) % 26 AS INTEGER)) || "
        "chr(CAST(97 + (r // 26) % 26 AS INTEGER)) || "
        "chr(CAST(97 + r % 26 AS INTEGER))"
    )
    remap = (
        "CASE WHEN r = 0 THEN text "
        f"ELSE regexp_replace(text, '([A-Za-z0-9_]+)', 'r' || {alpha} || '_\\1', 'g') END"
    )
    scale_sql(
        con,
        "documents",
        f"doc_id + r*{STRIDE} AS doc_id, "
        f"{remap} AS text, "
        "lang, source, "
        f"length({remap}) AS n_chars",
        out,
    )
    con.close()

    # Embeddings: numpy-seeded perturbation per replica.
    if not want("embeddings"):
        _print_counts(out)
        return
    src = pq.read_table(f"{SRC}/embeddings.parquet")
    vec_ids = src.column("vec_id").to_numpy()
    labels = src.column("label").to_numpy()
    mat = np.array(src.column("embedding").to_pylist(), dtype=np.float32)

    def emb_table(r_lo: int, r_hi: int) -> pa.Table:
        out_ids, out_labels, out_vecs = [], [], []
        for r in range(r_lo, r_hi):
            if r == 0:
                vecs = mat
            elif args.emb_mode in ("rotate", "rotate-dup"):
                rng = np.random.default_rng(r)
                g = rng.normal(0.0, 1.0, size=(mat.shape[1], mat.shape[1]))
                q, rr = np.linalg.qr(g)
                q *= np.sign(np.diag(rr))  # canonical sign: Q unique given g
                vecs = (mat.astype(np.float64) @ q.T).astype(np.float32)
            else:
                rng = np.random.default_rng(r)
                vecs = mat + rng.normal(0.0, 0.02, size=mat.shape).astype(np.float32)
            if args.emb_mode == "rotate-dup" and r > 0:
                # Plant a CONSTANT per-replica near-dup density: the last
                # 2% of each replica's rows are overwritten with noisy
                # copies of its first 2% (cos ~0.93 at sigma=0.4x the
                # component scale — above the 0.7 near-dup threshold, well
                # below 1.0 so the pair isn't an exact tie). The driver's
                # sf0.1 corpus has ZERO >=0.7 pairs, so a pure-rotate
                # decade of the neardup query reads 0 -> 0 output; this
                # mode gives the decade a nonzero linear pair count to
                # read (pairs = k per replica, replicas x growth -> ~10x),
                # which is what "near-dup density stays constant under
                # natural growth" means. Seeded per replica: byte-stable.
                # r == 0 is SKIPPED so the base slice stays a verbatim copy
                # of the source corpus (the tool's r==0 convention; density
                # is constant across the r > 0 replicas, and the planted
                # count still grows linearly with replica count).
                vecs = vecs.copy()
                n_rows = vecs.shape[0]
                k = max(1, n_rows // 50)
                rng2 = np.random.default_rng(10_000 + r)
                scale = float(vecs.std())
                vecs[n_rows - k :] = vecs[:k] + rng2.normal(
                    0.0, 0.4 * scale, size=(k, vecs.shape[1])
                ).astype(np.float32)
            out_ids.append(vec_ids + r * STRIDE)
            out_labels.append(labels)
            out_vecs.append(vecs)
        return pa.table(
            {
                "vec_id": pa.array(np.concatenate(out_ids), type=pa.int64()),
                "embedding": pa.array(
                    [row for block in out_vecs for row in block.tolist()],
                    type=pa.list_(pa.float32()),
                ),
                "label": pa.array(np.concatenate(out_labels), type=pa.int32()),
            }
        )

    if CHUNKS == 1:
        pq.write_table(emb_table(0, REPLICAS), f"{out}/embeddings.parquet")
    else:
        os.makedirs(f"{out}/embeddings.parquet", exist_ok=True)
        per = (REPLICAS + CHUNKS - 1) // CHUNKS
        for ci in range(CHUNKS):
            lo, hi = ci * per, min((ci + 1) * per, REPLICAS)
            if lo >= hi:
                break
            pq.write_table(
                emb_table(lo, hi),
                f"{out}/embeddings.parquet/chunk{ci:03d}.parquet",
            )

    _print_counts(out)


def _print_counts(out: str) -> None:
    count_con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        path = f"{out}/{t}.parquet"
        if not os.path.exists(path):
            continue
        if os.path.isdir(path):
            n = count_con.sql(f"SELECT count(*) FROM '{path}/*.parquet'").fetchone()[0]
        else:
            n = pq.read_metadata(path).num_rows
        print(f"{t}: {n}")
    count_con.close()


if __name__ == "__main__":
    main()
