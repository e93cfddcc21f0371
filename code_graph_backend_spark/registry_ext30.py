"""Round-5x extension query:

- graph_anf_sketch: the Approximate Neighborhood Function (Palmer,
  Gibbons & Faloutsos, KDD'02) — per hop h, the summed estimated ball
  sizes Σ_v |B_h(v)| over the graph twin, computed by propagating
  MERGEABLE md5-deterministic HLL register tables along edges (the
  corpus sketch machinery pointed at a graph: register-wise max IS the
  set union, so one hop = one join + one max-agg — the at-scale
  replacement for all-pairs BFS when you need the N(h) curve of a
  100 TB web graph).

Determinism design (stricter than the corpus HLL family, which rounds
its per-GROUP estimates to 4 decimals): per-NODE estimates feed a
global sum, so even one ulp of float drift flips a floor somewhere in
200k nodes — measured: Spark and DuckDB disagree on the last ulp of
`alpha*m²*2^49 / s_int` for EVERY node. So no runtime float touches
the output at all: the harmonic denominator is the exact integer
s_int = Σ 2^(49−m) + (256−cnt)·2^49, the raw estimate is the integer
floor division K // s_int with K = floor(α·m²·2^49·10^6) precomputed
ONCE in the generator, and the linear-counting branch reads a 255-row
lookup table of pre-floored 256·ln(256/v) micro values emitted as the
same literals into both engines.

Physical design (round 6 — the r5 wire format was the suite's slow
pole): register state is 256 B/node, so a graph under the measured-size
caps carries its ENTIRE sketch state in a (n, 256) uint8 matrix
(186k nodes at sf0.1 = 48 MB) — the driver-local path does each hop as
one numpy gather + maximum.reduceat over the memoized edge arrays
(operators/undirected.und_arrays), zero shuffle, zero Arrow round-trip.
The r5 row form ((grp, bucket, m) rows) emitted |sym| × avg-registers
rows into a max-agg per hop (~35M rows at sf0.1, 20.5 s); a packed
array<tinyint> column with 256 max() agg buffers disables whole-stage
codegen (spark.sql.codegen.maxFields = 100) and measured 39 s. Above
the caps, the distributed twin ships packed 256-byte BINARY registers
through an Arrow-vectorized partial combine → shuffle on node →
final combine (mapInPandas, np.maximum.reduceat inside) — the same
partial-agg/shuffle/final-agg shape Catalyst would pick, with the
element-wise-max the JVM lacks done at memory bandwidth in numpy.
Forced and pinned equal to the local path in tests (cap=0 monkeypatch,
tests/test_ext30_ops.py), so the at-scale branch is never
first-executed in production.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from .functions.sketches import _M, _rho_sql
from .memo import cached
from .registry import register

_ANF_HOPS = 2
_SCALE = 1 << 49
# K = floor(alpha_256 * 256^2 * 2^49 * 1e6): the whole raw-estimator
# constant folded into one integer, rounded exactly once, here.
_K = int((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 * _SCALE * 1_000_000)
# linear-counting micro values for every possible zero-register count
_LC_MICRO = {
    v: int(math.floor(256.0 * math.log(256.0 / v) * 1_000_000))
    for v in range(1, _M)
}
_RAW_GATE = 640 * 1_000_000  # 2.5 * m, in micro units

# measured-size duality gate (landmarks/stress/mst convention): at or
# below these the register propagation runs driver-local on the shared
# edge-array cache; tests force the distributed twin with caps (0, 0).
_LOCAL_N_CAP = 2_000_000
_LOCAL_E_CAP = 5_000_000


def _anf_sql() -> str:
    from .graph.tpch import SQL_EDGES, SQL_NODES

    rho = _rho_sql("substring(md5(CAST(id AS VARCHAR)), 3, 12)")
    lc_rows = ", ".join(f"({v}, {mic})" for v, mic in _LC_MICRO.items())
    parts = [
        f"WITH nodes AS ({SQL_NODES}), edges AS ({SQL_EDGES}),",
        f"""lc(zv, mic) AS (VALUES {lc_rows}),
        und AS MATERIALIZED (
            SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
            FROM edges WHERE src <> dst
        ),
        sym AS (SELECT u AS a, v AS b FROM und UNION ALL SELECT v, u FROM und),
        h0 AS (
            SELECT id AS grp,
                   CAST(('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 2))
                        AS BIGINT) AS bucket,
                   {rho} AS rho
            FROM nodes
        ),
        r0 AS MATERIALIZED (
            SELECT grp, bucket, MAX(rho) AS m FROM h0 GROUP BY 1, 2
        )""",
    ]
    sums = []
    for h in range(_ANF_HOPS + 1):
        if h > 0:
            parts.append(f""",
        n{h} AS (
            SELECT s.a AS grp, r.bucket, r.m
            FROM sym s JOIN r{h-1} r ON r.grp = s.b
        ),
        r{h} AS MATERIALIZED (
            SELECT grp, bucket, MAX(m) AS m FROM (
                SELECT * FROM r{h-1} UNION ALL SELECT * FROM n{h}
            ) GROUP BY 1, 2
        )""")
        parts.append(f""",
        agg{h} AS (
            SELECT grp,
                   SUM((1::BIGINT << (49 - m)))
                       + ({_M} - COUNT(*)) * {_SCALE}::BIGINT AS s_int,
                   {_M} - COUNT(*) AS zv
            FROM r{h} GROUP BY grp
        ),
        fin{h} AS (
            SELECT a.grp,
                   CASE WHEN a.zv > 0
                             AND ({_K}::HUGEINT // a.s_int) <= {_RAW_GATE}
                        THEN lc.mic
                        ELSE CAST({_K}::HUGEINT // a.s_int AS BIGINT) END
                       AS est_micro
            FROM agg{h} a LEFT JOIN lc ON lc.zv = a.zv
        )""")
        sums.append(f"""
        SELECT {h} AS hop, CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(est_micro) AS BIGINT) AS sum_ball_micro
        FROM fin{h}""")
    parts.append(
        "\nSELECT CAST(hop AS BIGINT) AS hop, n_nodes, sum_ball_micro FROM ("
        + " UNION ALL ".join(sums)
        + ") ORDER BY hop"
    )
    return "\n".join(parts)


def _seed_df(g):
    """(grp, bucket, rho) per node — the md5 bucket/rho derivation runs
    in Spark SQL with the EXACT expressions of hll_register_table
    (functions/sketches.py), so both execution paths and the DuckDB
    oracle share one hash definition."""
    h = F.md5(F.col("id").cast("string"))
    rho = F.expr(
        _rho_sql("substring(md5(cast(id as string)), 3, 12)")
    ).cast("int")
    return g.nodes.select(
        F.col("id").alias("grp"),
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("bucket"),
        rho.alias("rho"),
    )


def _est_totals(s_ints, zvs) -> int:
    """Σ est_micro over nodes from exact integer (s_int, zv) pairs.
    K // s_int is an 85-bit-by-58-bit integer division — Python ints
    keep it exact (float64 flips floors at the last ulp; that was the
    original sf0.01 hash lesson in this module's docstring)."""
    total = 0
    for s, z in zip(s_ints, zvs):
        raw = _K // int(s)
        if z > 0 and raw <= _RAW_GATE:
            total += _LC_MICRO[int(z)]
        else:
            total += raw
    return total


# expanded-triple chunk size for the hop scatter: big enough to
# amortize numpy call overhead, small enough that the chunk's index/
# key/value temporaries (~7 B per triple) stay cache/TLB-friendly and
# no multi-GB first-touch allocation happens (measured: a single 213M-
# triple expansion at sf0.1 paid ~20 s of page faults on first run)
_ANF_CHUNK = 16_000_000


def _anf_static(spark, g):
    """Seed state + sender-sorted sym edge indices, collected once per
    (session, graph) into the shared kernel-array memo — every re-run
    of the query (bench samples, repeated API calls) is then pure
    array work."""
    # keyed on both DataFrames: the output derives from nodes (seed) and
    # edges (rcv/snd), so the same nodes paired with other edges misses
    return cached(spark, ("anf", g.nodes, g.edges), lambda: _anf_arrays(spark, g))


def _anf_arrays(spark, g):
    import numpy as np

    from .operators.undirected import und_arrays

    seed = _seed_df(g).toPandas()
    ids = np.sort(seed["grp"].to_numpy(np.int64))
    n = len(ids)
    pos = np.searchsorted(ids, seed["grp"].to_numpy(np.int64)).astype(np.int64)
    # per-node PACKED seed register pk = (bucket << 6) | rho — rho <= 49
    # fits 6 bits; element-wise max over same-bucket pks == max over
    # rhos, so pk is both the stored state and the scatter value
    seed_pk = (
        (seed["bucket"].to_numpy(np.uint16) << 6)
        | seed["rho"].to_numpy(np.uint16)
    )
    p_node = np.zeros(n, dtype=np.uint16)
    p_node[pos] = seed_pk
    arrs = und_arrays(spark, g.edges)
    # receiver/sender positional pairs in the FULL node domain (the
    # und_arrays 'ids' domain is endpoints-only; isolated nodes still
    # hold their own register through every hop). Edges sorted by
    # sender so each hop's triple expansion is a contiguous CSR-block
    # repeat per sender. int32 everywhere a value fits: the hop-2
    # expansion streams hundreds of millions of indices, and halving
    # their width halves the memory traffic of the whole kernel.
    ai = np.searchsorted(ids, arrs["a"]).astype(np.int32)
    bi = np.searchsorted(ids, arrs["b"]).astype(np.int32)
    rcv = np.concatenate([ai, bi])
    snd = np.concatenate([bi, ai])
    e_order = np.argsort(snd, kind="stable")
    # receiver-sorted twin of the same edge set, for the native kernel:
    # ranges that do not split a receiver run write DISJOINT flat slices,
    # so the scatter-max threads need no atomics (functions/native.py)
    r_order = np.argsort(rcv, kind="stable")
    return {
        "n": n,
        "seed_flat_idx": pos * _M + (seed_pk >> 6).astype(np.int64),
        "seed_pk": seed_pk,
        "p_node": p_node,
        "rcv_s": rcv[e_order],
        "snd_s": snd[e_order].astype(np.int64),
        "rcv_r": np.ascontiguousarray(rcv[r_order]),
        "snd_r": np.ascontiguousarray(snd[r_order]),
    }


def _anf_threads() -> int:
    """Scatter threads for the native kernel, honoring the harness's
    core budget (the driver re-runs the bench at a lower
    $SPARK_GRAFT_CPUS to measure scaling — a kernel that always grabs
    every physical core would fake that curve)."""
    import os

    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    try:
        budget = int(cpus) if cpus else (os.cpu_count() or 1)
    except ValueError:
        budget = os.cpu_count() or 1
    return max(1, min(16, budget))


def _native_scatter(lib, flat, rcv_r, snd_r, fn, *state):
    """Run one scatter-max hop through the C kernel, threaded over
    receiver-disjoint edge ranges (ctypes releases the GIL, and the
    update is an element-wise max, so any edge order and any thread
    interleaving yield the identical flat state)."""
    import ctypes
    from concurrent.futures import ThreadPoolExecutor

    from .functions.native import receiver_cuts

    u16p = ctypes.POINTER(ctypes.c_uint16)
    i32p = ctypes.POINTER(ctypes.c_int32)
    i64p = ctypes.POINTER(ctypes.c_int64)
    fp = flat.ctypes.data_as(u16p)
    rp = rcv_r.ctypes.data_as(i32p)
    sp = snd_r.ctypes.data_as(i32p)
    args = []
    for a in state:
        args.append(a.ctypes.data_as(i64p if a.dtype.itemsize == 8 else u16p))
    cuts = receiver_cuts(rcv_r, _anf_threads())
    spans = [(lo, hi) for lo, hi in zip(cuts, cuts[1:]) if hi > lo]
    if len(spans) == 1:
        fn(fp, rp, sp, *args, spans[0][0], spans[0][1])
        return
    with ThreadPoolExecutor(max_workers=len(spans)) as ex:
        futs = [
            ex.submit(fn, fp, rp, sp, *args, lo, hi) for lo, hi in spans
        ]
        for f in futs:
            f.result()


def _native_estimate(lib, flat, s_int, zv):
    """Final-hop (s_int, zv) through the C kernel, threaded over node
    ranges (outputs are per-node slices — disjoint, no atomics)."""
    import ctypes
    from concurrent.futures import ThreadPoolExecutor

    n = len(s_int)
    u16p = ctypes.POINTER(ctypes.c_uint16)
    i64p = ctypes.POINTER(ctypes.c_int64)
    fp = flat.ctypes.data_as(u16p)
    sp = s_int.ctypes.data_as(i64p)
    zp = zv.ctypes.data_as(i64p)
    nt = _anf_threads()
    spans = [
        ((n * t) // nt, (n * (t + 1)) // nt) for t in range(nt)
    ]
    spans = [(lo, hi) for lo, hi in spans if hi > lo]
    if len(spans) == 1:
        lib.anf_estimate(fp, sp, zp, spans[0][0], spans[0][1])
        return
    with ThreadPoolExecutor(max_workers=len(spans)) as ex:
        futs = [
            ex.submit(lib.anf_estimate, fp, sp, zp, lo, hi)
            for lo, hi in spans
        ]
        for f in futs:
            f.result()


def _anf_local(spark, g, und):
    """Driver-local kernel: flat (n·256,) uint16 PACKED register state
    (entry = (bucket << 6) | m, so element-wise max over equal-bucket
    entries is max over m and the scatter value needs no unpack); one
    hop expands the sparse nonzero entries of every sender along its
    out-edges and scatter-maxes them with ONE flat np.maximum.at on
    keys rcv·256 + bucket. The flat 1-D indexed-max has numpy's fast
    inner loop (~300M updates/s measured); the dense alternatives run
    generic loops (np.maximum.reduceat over the gathered (|sym|, 256)
    matrix: ~10 s/hop at sf0.1; 2-D maximum.at: ~9 s/hop). Sparsity
    bounds the flow: hop 1 moves exactly |sym| single-register pks
    (specialized: the seed is one register per node, so no CSR
    machinery at all), hop 2 moves Σ_b deg(b)·nnz_1(b) (213M at sf0.1
    — graph-determined, vs dense |sym|·256 = 695M), chunked
    (_ANF_CHUNK) against page-fault spikes. The final hop estimates
    densely from the flat state (no 30M-row nonzero extraction for a
    state no later hop reads). No shuffle, no per-hop Arrow round-trip."""
    import numpy as np

    from .functions.native import load_kernels

    st = _anf_static(spark, g)
    n = st["n"]
    flat = np.zeros(n * _M, dtype=np.uint16)  # row-major (node, bucket)
    flat[st["seed_flat_idx"]] = st["seed_pk"]
    rcv_s, snd_s = st["rcv_s"], st["snd_s"]
    # optional C scatter-max (functions/native.py): the indexed max has
    # no vectorized numpy form (ufunc.at is a serial loop), and it is
    # ~90% of this kernel's time at sf0.1 — the C loop does the same
    # update at ~5x single-thread and threads over receiver-disjoint
    # ranges; numpy path kept verbatim as the compiler-less fallback,
    # pinned bit-equal in tests/test_ext30_ops.py
    lib = load_kernels()

    # s_int = Σ_i 2^(49 - m_i) = 256·2^49 + Σ_nonzero (2^(49-m) - 2^49),
    # exact int64 (max |Σ| < 2^57). The empty register's 2^49 is exactly
    # the (256 - cnt)·2^49 term of the row-form oracle. delta_pk maps a
    # PACKED entry straight to its delta (delta_pk[0] = 0: empty).
    pow2 = np.int64(1) << (49 - np.arange(50, dtype=np.int64))
    delta = pow2 - (np.int64(1) << 49)
    dd = np.zeros(64, dtype=np.int64)
    dd[1:50] = delta[1:50]
    delta_pk = dd[np.arange(1 << 14) & 63]

    base_s = np.int64(_M) << 49
    rows = []
    if lib is None:  # numpy-path temporaries (~130 MB) — skip under C
        rcv_keys = rcv_s.astype(np.int32) * np.int32(_M)
        aran = np.arange(_ANF_CHUNK + 512, dtype=np.int32)  # reused slices

    # hop 0: estimate straight from the seed (one register per node)
    s_int = np.full(n, base_s, dtype=np.int64)
    s_int += delta_pk[st["p_node"]]
    zv = np.full(n, _M, dtype=np.int64)
    zv -= (st["p_node"] != 0).astype(np.int64)
    rows.append((0, n, _est_totals(s_int.tolist(), zv.tolist())))

    if _ANF_HOPS >= 1 and len(snd_s):
        if lib is not None:
            _native_scatter(
                lib, flat, st["rcv_r"], st["snd_r"],
                lib.anf_scatter_max1, st["p_node"],
            )
        else:
            # hop 1, specialized: every sender holds exactly its seed pk
            # — three gathers over |sym|, no CSR offsets, no chunking
            pk1 = st["p_node"][snd_s]
            keys1 = rcv_keys + (pk1 >> 6).astype(np.int32)
            np.maximum.at(flat, keys1, pk1)
    if _ANF_HOPS >= 1:
        fidx = np.flatnonzero(flat)
        pks = flat[fidx]
        nz_node = fidx // _M
        s_int = np.full(n, base_s, dtype=np.int64)
        # flatnonzero is ascending, so per-node runs are contiguous:
        # segmented add.reduceat replaces the serial np.add.at loop
        # (identical exact int64 sums, vectorized inner loop)
        if len(pks):
            seg = np.flatnonzero(np.r_[True, nz_node[1:] != nz_node[:-1]])
            s_int[nz_node[seg]] += np.add.reduceat(delta_pk[pks], seg)
        zv = np.full(n, _M, dtype=np.int64)
        zv -= np.bincount(nz_node, minlength=n)
        rows.append((1, n, _est_totals(s_int.tolist(), zv.tolist())))

    for hop in range(2, _ANF_HOPS + 1):
        if len(snd_s) and lib is not None:
            # C kernel: one fused gather/scatter-max pass over the
            # CSR-expanded triples — no index temporaries at all
            starts = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(np.bincount(nz_node, minlength=n), out=starts[1:])
            _native_scatter(
                lib, flat, st["rcv_r"], st["snd_r"],
                lib.anf_scatter_max, starts, np.ascontiguousarray(pks),
            )
        elif len(snd_s):
            # expand the PRE-hop entries (fidx/pks carried from the
            # previous scan — one matrix scan per hop). All per-triple
            # streams are int32: under the caps n·256 < 2^31 and
            # nnz < 2^31, and halving the index width halves the
            # memory traffic of the 100M+-triple expansion.
            starts = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(np.bincount(nz_node, minlength=n), out=starts[1:])
            cnt = starts[snd_s + 1] - starts[snd_s]
            csum = np.cumsum(cnt)
            cuts = np.searchsorted(
                csum, np.arange(_ANF_CHUNK, int(csum[-1]), _ANF_CHUNK)
            )
            edge_cuts = [0, *(int(c) + 1 for c in cuts), len(snd_s)]
            for lo, hi in zip(edge_cuts, edge_cuts[1:]):
                if lo >= hi:
                    continue
                c = cnt[lo:hi]
                tot = int(c.sum())
                if not tot:
                    continue
                base = csum[lo] - cnt[lo]
                # triple index = repeat(block_start - global_block_
                # offset + chunk_base) + global position, where the
                # global position is a SLICE of one preallocated arange
                # (a fresh arange per chunk measured 2 s of kernel) and
                # the two repeat streams of the naive form are fused
                # into one
                comb = (
                    starts[snd_s[lo:hi]] - (csum[lo:hi] - c) + base
                ).astype(np.int32)
                tri = np.repeat(comb, c)
                tri += aran[:tot]
                pk = pks[tri]
                keys = np.repeat(rcv_keys[lo:hi], c)
                keys += (pk >> 6).astype(np.int32)
                np.maximum.at(flat, keys, pk)
        if hop < _ANF_HOPS:
            fidx = np.flatnonzero(flat)
            pks = flat[fidx]
            nz_node = fidx // _M
            s_int = np.full(n, base_s, dtype=np.int64)
            if len(pks):
                seg = np.flatnonzero(np.r_[True, nz_node[1:] != nz_node[:-1]])
                s_int[nz_node[seg]] += np.add.reduceat(delta_pk[pks], seg)
            zv = np.full(n, _M, dtype=np.int64)
            zv -= np.bincount(nz_node, minlength=n)
        elif lib is not None:
            # final hop: no later expansion reads this state — estimate
            # straight from flat in C, one read pass, no temporaries
            # (the numpy gather below materializes a (n, 256) int64
            # matrix — ~381 MB at sf0.1, the kernel's last remaining
            # multi-second phase on this round's memory-slow host)
            s_int = np.empty(n, dtype=np.int64)
            zv = np.empty(n, dtype=np.int64)
            _native_estimate(lib, flat, s_int, zv)
        else:
            # final hop, numpy fallback: estimate densely from flat
            # (cheaper than extracting ~30M triples)
            m2d = flat.reshape(n, _M)
            s_int = delta_pk[m2d].sum(axis=1, dtype=np.int64)
            s_int += base_s
            zv = np.int64(_M) - np.count_nonzero(m2d, axis=1)
        rows.append((hop, n, _est_totals(s_int.tolist(), zv.tolist())))
    return spark.createDataFrame(
        rows, "hop long, n_nodes long, sum_ball_micro long"
    ).orderBy("hop")


def _anf_distributed(spark, g, und):
    """At-scale twin: packed 256-byte BINARY registers, one row per
    node; a hop is edge-join → Arrow-vectorized partial combine on the
    join partitioning → shuffle on node → final combine — the
    partial-agg/shuffle/final-agg shape with the element-wise max done
    by np.maximum.reduceat inside mapInPandas (256 JVM max() buffers
    disable whole-stage codegen; a register-row encoding multiplies the
    shuffle by avg-ball-size — both measured slower at sf0.1)."""
    import numpy as np
    import pandas as pd

    from .scratch import scratch_persist

    sym = und.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        und.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )

    def _combine(it):
        acc: dict = {}
        for pdf in it:
            if not len(pdf):
                continue
            grps = pdf["grp"].to_numpy(np.int64)
            mat = np.frombuffer(
                b"".join(pdf["regs"].tolist()), dtype=np.uint8
            ).reshape(-1, _M)
            order = np.argsort(grps, kind="stable")
            sg = grps[order]
            bounds = np.flatnonzero(np.r_[True, sg[1:] != sg[:-1]])
            merged = np.maximum.reduceat(mat[order], bounds, axis=0)
            for gid, row in zip(sg[bounds].tolist(), merged):
                prev = acc.get(gid)
                if prev is None:
                    acc[gid] = row.copy()
                else:
                    np.maximum(prev, row, out=prev)
        if acc:
            gids = np.fromiter(acc.keys(), dtype=np.int64, count=len(acc))
            mat = np.stack(list(acc.values()))
            blob = mat.tobytes()
            yield pd.DataFrame(
                {
                    "grp": gids,
                    "regs": [
                        blob[i * _M : (i + 1) * _M] for i in range(len(gids))
                    ],
                }
            )

    def _pack_init(it):
        for pdf in it:
            k = len(pdf)
            if not k:
                continue
            mat = np.zeros((k, _M), dtype=np.uint8)
            mat[
                np.arange(k), pdf["bucket"].to_numpy(np.int64)
            ] = pdf["rho"].to_numpy(np.int64)
            blob = mat.tobytes()
            yield pd.DataFrame(
                {
                    "grp": pdf["grp"].to_numpy(np.int64),
                    "regs": [blob[i * _M : (i + 1) * _M] for i in range(k)],
                }
            )

    schema = "grp long, regs binary"
    lc = F.broadcast(
        spark.createDataFrame(list(_LC_MICRO.items()), "zv long, mic long")
    )

    def _hop_sum(r, hop):
        # unpack once per node-row (≤|nodes| rows by now); the big-int
        # raw division runs in DECIMAL(38) on the JVM, identical to the
        # oracle's HUGEINT floor division
        unpack = (
            "transform(sequence(0, 255),"
            " i -> CAST(conv(substring(hex(regs), 2*i+1, 2), 16, 10) AS INT))"
        )
        agged = r.select(
            F.expr(
                f"aggregate({unpack}, CAST(0 AS BIGINT),"
                " (acc, x) -> acc + shiftleft(CAST(1 AS BIGINT), 49 - x))"
            ).alias("s_int"),
            F.expr(
                f"CAST(size(filter({unpack}, x -> x = 0)) AS BIGINT)"
            ).alias("zv"),
        )
        fin = agged.join(lc, "zv", "left").select(
            F.when(
                (F.col("zv") > 0)
                & (
                    F.expr(f"CAST({_K} AS DECIMAL(38,0)) div s_int")
                    <= F.lit(_RAW_GATE)
                ),
                F.col("mic"),
            )
            .otherwise(F.expr(f"CAST({_K} AS DECIMAL(38,0)) div s_int"))
            .cast("long")
            .alias("est_micro")
        )
        return fin.agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("est_micro").cast("long").alias("sum_ball_micro"),
        ).select(
            F.lit(hop).cast("long").alias("hop"), "n_nodes", "sum_ball_micro"
        )

    r = scratch_persist(_seed_df(g).mapInPandas(_pack_init, schema))
    outs = [_hop_sum(r, 0)]
    for hop in range(1, _ANF_HOPS + 1):
        nbr = sym.join(r.withColumnRenamed("grp", "b"), "b").select(
            F.col("a").alias("grp"), "regs"
        )
        r = scratch_persist(
            r.unionByName(nbr)
            .mapInPandas(_combine, schema)  # map-side partial combine
            .repartition("grp")
            .mapInPandas(_combine, schema)  # final merge, one row/node
        )
        outs.append(_hop_sum(r, hop))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("hop")


@register("graph_anf_sketch", _anf_sql())
def graph_anf_sketch_q(spark, sf_dir):
    """ANF over the graph twin: N(h) = Σ_v est|B_h(v)| for h = 0..2.
    Measured-size duality (module docstring): driver-local register
    matrix below the caps, packed-BINARY mapInPandas propagation above
    them. Both paths share the Spark-SQL md5 seed derivation and the
    exact integer estimator, so this approximate-by-design sketch
    hash-matches the row-form DuckDB oracle exactly on either path."""
    from .graph.tpch import build_graph
    from .operators.undirected import und_cached

    g = build_graph(spark, sf_dir)
    und = und_cached(spark, g.edges)
    if g.nodes.count() <= _LOCAL_N_CAP and und.count() <= _LOCAL_E_CAP:
        return _anf_local(spark, g, und)
    return _anf_distributed(spark, g, und)
