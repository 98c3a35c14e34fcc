"""Portable MinHash/LSH band signatures and the band kernel
(``band_rows``) of the batch dedup query
(``__spark_entry__.q_minhash_dedup``), whose DuckDB oracle twin does the
same arithmetic in SQL.

All hashes are polynomial folds over code points mod a prime — plain
integer arithmetic computable identically in SQL (the oracle twins in
``__spark_entry__``) and vectorized here in NumPy (one Horner pass over
character positions; no per-string python loop).
"""

from __future__ import annotations

import numpy as np

HASH_P = 1_000_000_007
SIMHASH_MULTS = (31, 131, 257, 8191)   # 4 x 16 bits = 64 simhash bits
MINHASH_N = 16
MINHASH_A = tuple(52 + 11 * i for i in range(MINHASH_N))
MINHASH_B = tuple(3 + 17 * i for i in range(MINHASH_N))
MINHASH_BANDS = 4                      # 4 bands x 4 rows

_A_VEC = np.array(MINHASH_A, dtype=np.int64)
_B_VEC = np.array(MINHASH_B, dtype=np.int64)


def poly_hashes(strs: list, mults) -> np.ndarray:
    """(len(strs), len(mults)) int64 matrix of h_m(s) = fold over code
    points of (acc*m + cp) % P, computed in closed form as
    sum(cp_j * m^(L-1-j)) % P over the FLAT code-point array: per-char
    exponents index a tiny m-power table and per-string sums come from
    one add.reduceat — no (n_strings x max_len) dense matrix (the
    previous Horner sweep allocated ~60M-element scratch on corpus
    batches and was memory-bandwidth-bound, ~5x slower).  Every product
    cp * m^e stays < 2^51 and every per-string sum of (x % P) terms
    < 2^30 each fits int64, so the arithmetic is exact."""
    n = len(strs)
    m = np.asarray(mults, dtype=np.int64)
    h = np.zeros((n, len(m)), dtype=np.int64)
    if n == 0:
        return h
    lens = np.fromiter((len(s) for s in strs), dtype=np.int64, count=n)
    total = int(lens.sum())
    if total == 0:
        return h
    codes = np.frombuffer("".join(strs).encode("utf-32-le"),
                          dtype=np.uint32).astype(np.int64)
    maxlen = int(lens.max())
    ends = np.cumsum(lens)
    starts = ends - lens
    # exponent of m for each flat char j: end_of_its_string - 1 - j
    # (one repeat instead of two — same values, fewer 100MB temporaries)
    exps = np.repeat(ends, lens) - 1 - np.arange(total, dtype=np.int64)
    nz = lens > 0
    starts_nz = starts[nz]
    for k in range(len(m)):
        powt = np.empty(maxlen, dtype=np.int64)
        powt[0] = 1
        mk = int(m[k])
        for e in range(1, maxlen):
            powt[e] = (powt[e - 1] * mk) % HASH_P
        terms = (codes * powt[exps]) % HASH_P
        h[nz, k] = np.add.reduceat(terms, starts_nz) % HASH_P
    return h


def band_signatures(texts: list) -> "tuple[list[int], np.ndarray]":
    """All 16 minhashes per text in one vectorized pass (tokenize →
    shingle hashes by COMPOSITION → 16 affine transforms → min), folded
    into MINHASH_BANDS band signatures of 4 rows each.

    Shingle hashes are never computed from shingle strings: the
    polynomial fold satisfies h(a||b) = (h(a)·m^|b| + h(b)) mod P, so
    h("t0 t1 t2") composes from the per-TOKEN hashes and lengths —
    each corpus character is hashed once instead of ~3x (shingles
    overlap), and no shingle strings, per-doc sets or sorts are built.
    min() over duplicate shingles is idempotent, so skipping the
    distinct step leaves every minhash (and the signatures) identical
    to the set-based definition the DuckDB twin uses.  All terms stay
    < 2^60, so int64 arithmetic is exact.

    Returns (keep, sigs): `keep` indexes the texts that produced at
    least one 3-token shingle (shorter texts emit nothing, matching the
    SQL twin's empty GROUP BY), `sigs` is (len(keep), MINHASH_BANDS)
    int64."""
    keep: list[int] = []
    tok_lists: list[list] = []
    for i, text in enumerate(texts):
        # non-strings (None, and the NaN pandas surfaces for a NULL
        # text column) carry no shingles — skip, don't crash the task
        toks = (text.strip().lower().split()
                if isinstance(text, str) else [])
        if len(toks) >= 3:
            keep.append(i)
            tok_lists.append(toks)
    if not keep:
        return [], np.zeros((0, MINHASH_BANDS), dtype=np.int64)
    counts = np.fromiter((len(t) for t in tok_lists),
                         dtype=np.int64, count=len(tok_lists))
    flat = [t for toks in tok_lists for t in toks]
    th = poly_hashes(flat, (31,))[:, 0]                  # (T,)
    tlen = np.fromiter((len(t) for t in flat),
                       dtype=np.int64, count=len(flat))
    maxp = int(tlen.max()) + 1
    pow31 = np.empty(maxp + 1, dtype=np.int64)
    pow31[0] = 1
    for e in range(1, maxp + 1):
        pow31[e] = pow31[e - 1] * 31 % HASH_P
    hsp = (32 * pow31[tlen] + th) % HASH_P               # h(" " + t)
    # shingle s starting at flat token i: h(t_i || " t_{i+1} || " t_{i+2})
    n_sh = counts - 2                                    # all >= 1
    sh_starts = np.cumsum(n_sh) - n_sh
    total_sh = int(n_sh.sum())
    tok_starts = np.cumsum(counts) - counts
    i0 = (np.arange(total_sh, dtype=np.int64)
          - np.repeat(sh_starts, n_sh) + np.repeat(tok_starts, n_sh))
    i1 = i0 + 1
    i2 = i0 + 2
    h01 = (th[i0] * pow31[tlen[i1] + 1] + hsp[i1]) % HASH_P
    base = (h01 * pow31[tlen[i2] + 1] + hsp[i2]) % HASH_P
    # 16 affine transforms + per-doc minima, one 1-D pass per hash
    # function: the (S, 16) 2-D formulation allocated three ~130 MB
    # temporaries and put reduceat on strided columns — measured 14x
    # slower than this loop at corpus batch sizes.  Segments are all
    # non-empty (every kept doc has >= 1 shingle).
    mhs = np.empty((len(keep), MINHASH_N), dtype=np.int64)
    tmp = np.empty(total_sh, dtype=np.int64)
    for k in range(MINHASH_N):
        np.multiply(base, int(_A_VEC[k]), out=tmp)
        tmp += int(_B_VEC[k])
        np.mod(tmp, HASH_P, out=tmp)
        mhs[:, k] = np.minimum.reduceat(tmp, sh_starts)
    sig = np.zeros((len(keep), MINHASH_BANDS), dtype=np.int64)
    for bi in range(MINHASH_BANDS):
        s = np.zeros(len(keep), dtype=np.int64)
        for j in range(4):
            s = (s * 31 + mhs[:, bi * 4 + j]) % HASH_P
        sig[:, bi] = s
    return keep, sig


def band_rows(batches):
    """mapInPandas kernel: (doc_id, text) batches → one
    (doc_id, band, sig) row per band of every document that has at
    least one shingle; ``doc_id`` keeps whatever type the input
    carries."""
    import pandas as pd
    for pdf in batches:
        keep, sig = band_signatures(list(pdf["text"]))
        if not keep:
            continue
        ids = pdf["doc_id"].to_numpy()[keep]
        yield pd.DataFrame({
            "doc_id": np.repeat(ids, MINHASH_BANDS),
            "band": np.tile(np.arange(MINHASH_BANDS, dtype=np.int32),
                            len(ids)),
            "sig": sig.reshape(-1),
        })
