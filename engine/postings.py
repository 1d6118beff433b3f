"""Posting-list codec: delta + StreamVByte encoding with block-max metadata.

Layout (frozen; SURVEY.md section 4.3 item 2):
- Postings for one (shard, term) are doc-id-sorted and cut into blocks of
  ``BLOCK`` (=128) docs. Each block is encoded independently so the query
  engine can skip a whole block without decoding it (block-max WAND).
- Per block, three StreamVByte streams: doc-id deltas (first delta relative
  to the previous block's last doc id, -1 before block 0), term frequencies,
  and doc lengths (dl travels WITH the posting — Lucene-norms analog — so
  query-time scoring needs no global doc-length broadcast; that is the
  10^12-doc scale path).
- Block metadata: (first_doc, last_doc, n, byte offsets of the three streams,
  max_impact) where ``max_impact`` is the exact max over the block of the
  BM25 term impact tf/(tf + k1*(1-b+b*dl/avgdl)) — multiplying by idf gives
  the block's score upper bound.

StreamVByte (public format, Lemire et al.): per group of 4 values one control
byte (2 bits each = byte-length-1), data bytes follow, values little-endian.
Control bits for value j within its group live at bits 2j..2j+1. Everything
here is numpy-vectorized; no per-value Python in encode or decode.

The reference delegates all of this to Lucene (SURVEY.md 2.6 M1-M5); this is
the from-scratch replacement mandated by BASELINE.json north_rule.
"""

from __future__ import annotations

import numpy as np

BLOCK = 128
K1 = 1.2
B = 0.75

_SHIFTS = np.array([0, 2, 4, 6], dtype=np.uint8)

# the fields of one block's metadata, in its tuple order (and the key names
# of the postings `blocks` struct, which arrives as dicts from a read)
BLOCK_KEYS = ("first_doc", "last_doc", "n", "doc_off", "tf_off", "dl_off", "max_impact")


def svb_encode(values: np.ndarray) -> bytes:
    """StreamVByte-encode a uint32 array. Returns control||data bytes."""
    a = np.ascontiguousarray(values, dtype="<u4")
    n = a.size
    if n == 0:
        return b""
    lens = np.ones(n, dtype=np.uint8)
    lens[a > 0xFF] = 2
    lens[a > 0xFFFF] = 3
    lens[a > 0xFFFFFF] = 4
    codes = (lens - 1).astype(np.uint8)
    pad = (-n) % 4
    if pad:
        codes = np.concatenate([codes, np.zeros(pad, dtype=np.uint8)])
    ctrl = (codes.reshape(-1, 4) << _SHIFTS).sum(axis=1, dtype=np.uint16).astype(np.uint8)
    byte_mat = a.view(np.uint8).reshape(n, 4)
    mask = np.arange(4, dtype=np.uint8) < lens[:, None]
    data = byte_mat[mask]  # row-major: per-value little-endian bytes in order
    return ctrl.tobytes() + data.tobytes()


def svb_decode(buf: bytes | memoryview, n: int) -> np.ndarray:
    """Decode ``n`` uint32 values from a svb_encode() buffer."""
    if n == 0:
        return np.empty(0, dtype=np.uint32)
    raw = np.frombuffer(buf, dtype=np.uint8)
    n_ctrl = (n + 3) // 4
    ctrl = raw[:n_ctrl]
    codes = ((ctrl[:, None] >> _SHIFTS) & 3).reshape(-1)[:n]
    lens = codes.astype(np.int64) + 1
    data = raw[n_ctrl : n_ctrl + int(lens.sum())]
    mat = np.zeros((n, 4), dtype=np.uint8)
    mask = np.arange(4) < lens[:, None]
    mat[mask] = data
    return mat.view("<u4").ravel().astype(np.uint32)


def bm25_impact(
    tf: np.ndarray, dl: np.ndarray, avgdl: float, k1: float = K1, b: float = B
) -> np.ndarray:
    """Exact BM25 term impact (idf excluded): tf/(tf + k1*(1-b+b*dl/avgdl))."""
    tf = tf.astype(np.float64)
    return tf / (tf + k1 * (1.0 - b + b * (dl.astype(np.float64) / avgdl)))


def bm25_idf(df: int | np.ndarray, n_docs: int) -> float | np.ndarray:
    """Lucene BM25 idf: ln(1 + (N - df + 0.5)/(df + 0.5))."""
    return np.log(1.0 + (n_docs - np.asarray(df, dtype=np.float64) + 0.5) / (np.asarray(df, dtype=np.float64) + 0.5))


def encode_term_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    k1: float = K1,
    b: float = B,
) -> dict:
    """Encode one (shard, term)'s doc-sorted postings.

    Returns dict with docs_bin/tfs_bin/dls_bin (concatenated per-block svb
    streams) and blocks: list of (first_doc, last_doc, n, doc_off, tf_off,
    dl_off, max_impact). Offsets index into the respective binary; a block's
    stream ends where the next block's begins (or at the end).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    n = doc_ids.size
    assert n > 0
    deltas = np.diff(doc_ids, prepend=np.int64(-1)).astype(np.uint32)
    impacts = bm25_impact(np.asarray(tfs), np.asarray(dls), avgdl, k1, b)

    docs_parts: list[bytes] = []
    tfs_parts: list[bytes] = []
    dls_parts: list[bytes] = []
    blocks: list[tuple] = []
    doc_off = tf_off = dl_off = 0
    for s in range(0, n, BLOCK):
        e = min(s + BLOCK, n)
        d = svb_encode(deltas[s:e])
        t = svb_encode(np.asarray(tfs[s:e], dtype=np.uint32))
        l = svb_encode(np.asarray(dls[s:e], dtype=np.uint32))
        blocks.append(
            (
                int(doc_ids[s]),
                int(doc_ids[e - 1]),
                int(e - s),
                doc_off,
                tf_off,
                dl_off,
                float(impacts[s:e].max()),
            )
        )
        docs_parts.append(d)
        tfs_parts.append(t)
        dls_parts.append(l)
        doc_off += len(d)
        tf_off += len(t)
        dl_off += len(l)
    return {
        "docs_bin": b"".join(docs_parts),
        "tfs_bin": b"".join(tfs_parts),
        "dls_bin": b"".join(dls_parts),
        "blocks": blocks,
        "df": int(n),
        "cf": int(np.asarray(tfs).sum()),
    }


def _svb_streams(values: np.ndarray, block_start: np.ndarray, block_n: np.ndarray,
                 pos_in_block: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized StreamVByte over MANY blocks at once.

    values: uint32 array (all blocks concatenated, block-contiguous).
    block_start: start index of each block; block_n: values per block;
    pos_in_block: per-value position within its block.
    Returns (ctrl_buf, data_buf, ctrl_off, data_off): global control/data
    byte buffers plus per-block offsets into them. Block i's stream is
    ctrl_buf[ctrl_off[i]:ctrl_off[i+1]] ++ data_buf[data_off[i]:data_off[i+1]]
    — byte-identical to svb_encode() run per block.
    """
    a = np.ascontiguousarray(values, dtype="<u4")
    n = a.size
    lens = np.ones(n, dtype=np.int64)
    lens[a > 0xFF] = 2
    lens[a > 0xFFFF] = 3
    lens[a > 0xFFFFFF] = 4
    codes = (lens - 1).astype(np.uint8)
    # data bytes: per-value little-endian prefix bytes, in value order — the
    # concatenation of every block's data stream already
    byte_mat = a.view(np.uint8).reshape(n, 4)
    mask = np.arange(4, dtype=np.int64) < lens[:, None]
    data_buf = byte_mat[mask]
    val_data_off = np.concatenate(([0], np.cumsum(lens)))
    data_off = np.empty(block_start.size + 1, dtype=np.int64)
    data_off[:-1] = val_data_off[block_start]
    data_off[-1] = val_data_off[-1]
    # control bytes: ceil(block_n/4) per block, value j of a block occupies
    # bits 2*(j%4) of ctrl byte j//4
    n_ctrl = (block_n + 3) // 4
    ctrl_off = np.concatenate(([0], np.cumsum(n_ctrl)))
    block_of_value = np.repeat(np.arange(block_n.size), block_n)
    ctrl_idx = ctrl_off[block_of_value] + (pos_in_block >> 2)
    contrib = codes.astype(np.int64) << (2 * (pos_in_block & 3))
    ctrl_buf = np.bincount(ctrl_idx, weights=contrib, minlength=int(ctrl_off[-1]))
    ctrl_buf = ctrl_buf.astype(np.uint8)
    return ctrl_buf, data_buf, ctrl_off, data_off


def encode_groups_columnar(
    local_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    group_start: np.ndarray,
    avgdl: float,
    k1: float = K1,
    b: float = B,
    pos_deltas: np.ndarray | None = None,
) -> dict:
    """Vectorized encode of MANY doc-sorted (shard, term) groups at once —
    the hot loop of the index build (SURVEY.md 7.4: no per-row Python).

    local_ids/tfs/dls: concatenated postings, sorted by doc id within each
    group. group_start: start index of each group (ascending, no sentinel).

    Returns a fully COLUMNAR result (no per-group Python objects) ready to
    be wrapped zero-copy into Arrow arrays:
      df, cf                      int64[g]
      docs_buf/tfs_buf/dls_buf    bytes (all groups' binaries concatenated)
      docs_off/tfs_off/dls_off    int64[g+1] group offsets into the bufs
      blk_first, blk_last         int64[B]   (B = total blocks)
      blk_n                       int32[B]
      blk_doc_off/blk_tf_off/blk_dl_off  int32[B] offsets WITHIN the group
      blk_max                     float64[B]
      blk_group_off               int64[g+1] block range per group
    Byte-identical to encode_term_postings run per group.

    pos_deltas (optional, positional indexes): per-OCCURRENCE token
    position deltas, length sum(tfs), in posting order — within each
    posting the first occurrence's value is its raw token position, the
    rest are gaps to the previous occurrence (Lucene positions layout).
    The position stream is cut on the SAME 128-doc block boundaries as
    the other streams (a block's positions = the occurrences of its
    docs), so block-skipping skips positions too. Adds to the result:
      pos_buf                     bytes   (all groups' position binaries)
      pos_off                     int64[g+1] group offsets into pos_buf
      blk_pos_off                 int32[B]  block offsets WITHIN the group
    """
    n = local_ids.size
    if n == 0:
        # properly-shaped empty result (same keys/dtypes as the non-empty
        # path) so callers indexing by key never see a bare list
        i64, i32 = np.empty(0, np.int64), np.empty(0, np.int32)
        zero_off = np.zeros(1, np.int64)
        out = {
            "df": i64, "cf": i64,
            "docs_buf": b"", "tfs_buf": b"", "dls_buf": b"",
            "docs_off": zero_off, "tfs_off": zero_off, "dls_off": zero_off,
            "blk_first": i64, "blk_last": i64, "blk_n": i32,
            "blk_doc_off": i32, "blk_tf_off": i32, "blk_dl_off": i32,
            "blk_max": np.empty(0, np.float64), "blk_group_off": zero_off,
        }
        if pos_deltas is not None:
            out.update({"pos_buf": b"", "pos_off": zero_off, "blk_pos_off": i32})
        return out
    local_ids = np.ascontiguousarray(local_ids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.uint32)
    dls = np.ascontiguousarray(dls, dtype=np.uint32)
    group_start = np.ascontiguousarray(group_start, dtype=np.int64)
    g = group_start.size
    group_end = np.empty(g, dtype=np.int64)
    group_end[:-1] = group_start[1:]
    group_end[-1] = n
    group_len = group_end - group_start

    # deltas: diff within group; first value of a group = local_id + 1
    # (relative to the virtual previous doc -1)
    deltas = np.empty(n, dtype=np.int64)
    deltas[1:] = local_ids[1:] - local_ids[:-1]
    deltas[group_start] = local_ids[group_start] + 1
    deltas_u32 = deltas.astype(np.uint32)

    # block segmentation: blocks of BLOCK values, aligned to group starts
    n_blocks_per_group = (group_len + BLOCK - 1) // BLOCK
    total_blocks = int(n_blocks_per_group.sum())
    block_group = np.repeat(np.arange(g), n_blocks_per_group)
    first_block_of_group = np.concatenate(([0], np.cumsum(n_blocks_per_group)))
    within = np.arange(total_blocks) - first_block_of_group[block_group]
    block_start = group_start[block_group] + within * BLOCK
    block_end = np.minimum(block_start + BLOCK, group_end[block_group])
    block_n = block_end - block_start
    value_block = np.repeat(np.arange(total_blocks), block_n)
    pos_in_block = np.arange(n) - block_start[value_block]

    d_ctrl, d_data, d_coff, d_doff = _svb_streams(deltas_u32, block_start, block_n, pos_in_block)
    t_ctrl, t_data, t_coff, t_doff = _svb_streams(tfs, block_start, block_n, pos_in_block)
    l_ctrl, l_data, l_coff, l_doff = _svb_streams(dls, block_start, block_n, pos_in_block)

    impacts = bm25_impact(tfs, dls, avgdl, k1, b)
    block_max = np.maximum.reduceat(impacts, block_start)
    first_docs = local_ids[block_start]
    last_docs = local_ids[block_end - 1]
    cfs = np.add.reduceat(tfs.astype(np.int64), group_start)

    # Assemble group-contiguous output buffers (blocks laid out ctrl||data,
    # in block order) with two vectorized scatter-copies per stream; each
    # group's binary is then ONE slice — no per-block Python.
    def _assemble(ctrl: np.ndarray, data: np.ndarray, coff: np.ndarray, doff: np.ndarray):
        clen = coff[1:] - coff[:-1]
        dlen = doff[1:] - doff[:-1]
        blk_len = clen + dlen
        out_off = np.concatenate(([0], np.cumsum(blk_len)))
        buf = np.empty(int(out_off[-1]), dtype=np.uint8)
        # ctrl bytes: dest = out_off[blk] + intra
        intra_c = np.arange(int(clen.sum())) - np.repeat(coff[:-1], clen)
        buf[np.repeat(out_off[:-1], clen) + intra_c] = ctrl
        # data bytes: dest = out_off[blk] + clen[blk] + intra
        intra_d = np.arange(int(dlen.sum())) - np.repeat(doff[:-1], dlen)
        buf[np.repeat(out_off[:-1] + clen, dlen) + intra_d] = data
        # per-block offsets WITHIN the owning group's binary
        rel = out_off[:-1] - out_off[first_block_of_group[block_group]]
        # per-group byte ranges in buf
        gro = out_off[first_block_of_group]
        return buf.tobytes(), rel, gro

    d_buf, doc_off, d_gro = _assemble(d_ctrl, d_data, d_coff, d_doff)
    t_buf, tf_off, t_gro = _assemble(t_ctrl, t_data, t_coff, t_doff)
    l_buf, dl_off, l_gro = _assemble(l_ctrl, l_data, l_coff, l_doff)

    pos_extra = None
    if pos_deltas is not None:
        # occurrence-space twins of the posting-space block boundaries:
        # block b's positions are the occurrences of its postings, i.e.
        # occ_cum[block_start[b]] .. occ_cum[block_end[b]]
        pos_deltas = np.ascontiguousarray(pos_deltas, dtype=np.uint32)
        occ_cum = np.concatenate(([0], np.cumsum(tfs.astype(np.int64))))
        assert pos_deltas.size == int(occ_cum[-1]), "pos_deltas != sum(tfs)"
        oblock_start = occ_cum[block_start]
        oblock_n = occ_cum[block_end] - oblock_start
        oblock_of_value = np.repeat(np.arange(total_blocks), oblock_n)
        pos_in_oblock = np.arange(pos_deltas.size) - oblock_start[oblock_of_value]
        p_ctrl, p_data, p_coff, p_doff = _svb_streams(
            pos_deltas, oblock_start, oblock_n, pos_in_oblock
        )
        p_buf, pos_blk_off, p_gro = _assemble(p_ctrl, p_data, p_coff, p_doff)
        pos_extra = {
            "pos_buf": p_buf,
            "pos_off": p_gro.astype(np.int64),
            "blk_pos_off": pos_blk_off.astype(np.int32),
        }

    return {
        **(pos_extra or {}),
        "df": group_len.astype(np.int64),
        "cf": cfs.astype(np.int64),
        "docs_buf": d_buf,
        "tfs_buf": t_buf,
        "dls_buf": l_buf,
        "docs_off": d_gro.astype(np.int64),
        "tfs_off": t_gro.astype(np.int64),
        "dls_off": l_gro.astype(np.int64),
        "blk_first": first_docs.astype(np.int64),
        "blk_last": last_docs.astype(np.int64),
        "blk_n": block_n.astype(np.int32),
        "blk_doc_off": doc_off.astype(np.int32),
        "blk_tf_off": tf_off.astype(np.int32),
        "blk_dl_off": dl_off.astype(np.int32),
        "blk_max": block_max.astype(np.float64),
        "blk_group_off": first_block_of_group.astype(np.int64),
    }


def encode_groups(
    local_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    group_start: np.ndarray,
    avgdl: float,
    k1: float = K1,
    b: float = B,
    pos_deltas: np.ndarray | None = None,
) -> list[dict]:
    """Row-oriented wrapper over encode_groups_columnar: one dict per group
    with the same keys as encode_term_postings (used by the segment merger
    and tests; the index-build hot path consumes the columnar form).
    With pos_deltas (positional indexes), each dict also carries
    pos_bin/pos_offs."""
    if np.asarray(local_ids).size == 0:
        return []
    c = encode_groups_columnar(
        local_ids, tfs, dls, group_start, avgdl, k1, b, pos_deltas=pos_deltas
    )
    g = c["df"].size
    fbg = c["blk_group_off"].tolist()
    fd, ld, bn = c["blk_first"].tolist(), c["blk_last"].tolist(), c["blk_n"].tolist()
    do_, to_, lo_ = c["blk_doc_off"].tolist(), c["blk_tf_off"].tolist(), c["blk_dl_off"].tolist()
    bm = c["blk_max"].tolist()
    dg, tg, lg = c["docs_off"].tolist(), c["tfs_off"].tolist(), c["dls_off"].tolist()
    out: list[dict] = []
    for gi in range(g):
        b0, b1 = fbg[gi], fbg[gi + 1]
        rec = {
            "docs_bin": c["docs_buf"][dg[gi]:dg[gi + 1]],
            "tfs_bin": c["tfs_buf"][tg[gi]:tg[gi + 1]],
            "dls_bin": c["dls_buf"][lg[gi]:lg[gi + 1]],
            "blocks": [
                (fd[i], ld[i], bn[i], do_[i], to_[i], lo_[i], bm[i])
                for i in range(b0, b1)
            ],
            "df": int(c["df"][gi]),
            "cf": int(c["cf"][gi]),
        }
        if pos_deltas is not None:
            pg = c["pos_off"].tolist()
            rec["pos_bin"] = c["pos_buf"][pg[gi]:pg[gi + 1]]
            rec["pos_offs"] = [int(c["blk_pos_off"][i]) for i in range(b0, b1)]
        out.append(rec)
    return out


def _block_bounds(blocks: list, i: int, which: int, total_len: int) -> tuple[int, int]:
    off = blocks[i][which]
    end = blocks[i + 1][which] if i + 1 < len(blocks) else total_len
    return off, end


def decode_block(
    docs_bin: bytes, tfs_bin: bytes, dls_bin: bytes, blocks: list, i: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode block i -> (doc_ids int64, tfs uint32, dls uint32)."""
    first_doc, _last, n, _do, _to, _lo, _mi = blocks[i]
    do, de = _block_bounds(blocks, i, 3, len(docs_bin))
    to, te = _block_bounds(blocks, i, 4, len(tfs_bin))
    lo, le = _block_bounds(blocks, i, 5, len(dls_bin))
    deltas = svb_decode(memoryview(docs_bin)[do:de], n).astype(np.int64)
    prev_last = blocks[i - 1][1] if i > 0 else -1
    doc_ids = np.cumsum(deltas) + prev_last
    tfs = svb_decode(memoryview(tfs_bin)[to:te], n)
    dls = svb_decode(memoryview(dls_bin)[lo:le], n)
    return doc_ids, tfs, dls


def svb_decode_blocks(
    buf: bytes | memoryview, block_off: np.ndarray, ns: np.ndarray
) -> np.ndarray:
    """Decode MANY independent StreamVByte streams at once: block i
    occupies buf[block_off[i]:...] laid out ctrl||data with ns[i] values.
    Returns the concatenation of every block's values — byte-compatible
    with svb_decode run per block, but a fixed number of numpy passes
    instead of one Python call per block (the full-list decode hot path:
    TAAT/phrase kernels, the compaction rewriter, the segment merger).
    The inverse bookkeeping of _svb_streams."""
    ns = np.asarray(ns, dtype=np.int64)
    total = int(ns.sum())
    if total == 0:
        return np.empty(0, dtype=np.uint32)
    raw = np.frombuffer(buf, dtype=np.uint8)
    block_off = np.asarray(block_off, dtype=np.int64)
    nb = ns.size
    n_ctrl = (ns + 3) // 4
    # ctrl bytes are contiguous per block: global index = block_off + intra
    ctrl_cum = np.concatenate(([0], np.cumsum(n_ctrl)))
    intra_c = np.arange(int(ctrl_cum[-1])) - np.repeat(ctrl_cum[:-1], n_ctrl)
    ctrl = raw[np.repeat(block_off, n_ctrl) + intra_c]
    # 4 codes per ctrl byte, grouped per block; keep the first ns[i] slots
    codes_all = ((ctrl[:, None] >> _SHIFTS) & 3).reshape(-1)
    slots = 4 * n_ctrl
    slot_cum = np.concatenate(([0], np.cumsum(slots)))
    slot_in_block = np.arange(int(slot_cum[-1])) - np.repeat(slot_cum[:-1], slots)
    keep = slot_in_block < np.repeat(ns, slots)
    lens = codes_all[keep].astype(np.int64) + 1
    # per-value data start: block data begins after the ctrl section
    csum = np.cumsum(lens)
    excl = csum - lens
    val_cum = np.concatenate(([0], np.cumsum(ns)))
    base_excl = excl[val_cum[:-1]]
    val_block = np.repeat(np.arange(nb), ns)
    data_start = (
        (block_off + n_ctrl)[val_block] + (excl - base_excl[val_block])
    )
    mat = np.zeros((total, 4), dtype=np.uint8)
    for j in range(4):
        m = lens > j
        mat[m, j] = raw[data_start[m] + j]
    return mat.view("<u4").ravel()


def decode_term_postings(
    docs_bin: bytes, tfs_bin: bytes, dls_bin: bytes, blocks: list
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode all blocks of one (shard, term) — batched across blocks
    (svb_decode_blocks). Doc ids reconstruct with ONE global cumsum: the
    first delta of each block is stored relative to the previous block's
    last doc (-1 before block 0), so the concatenated delta stream
    telescopes across block boundaries."""
    nb = len(blocks)
    if nb == 0:
        e = np.empty(0, dtype=np.uint32)
        return e.astype(np.int64), e, e
    ns = np.fromiter((b[2] for b in blocks), dtype=np.int64, count=nb)
    d_off = np.fromiter((b[3] for b in blocks), dtype=np.int64, count=nb)
    t_off = np.fromiter((b[4] for b in blocks), dtype=np.int64, count=nb)
    l_off = np.fromiter((b[5] for b in blocks), dtype=np.int64, count=nb)
    deltas = svb_decode_blocks(docs_bin, d_off, ns)
    doc_ids = np.cumsum(deltas.astype(np.int64)) - 1
    tfs = svb_decode_blocks(tfs_bin, t_off, ns)
    dls = svb_decode_blocks(dls_bin, l_off, ns)
    return doc_ids, tfs, dls


def decode_rows(rows) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY (shard, term) rows at once -> (counts, doc_ids, tfs,
    dls): counts[i] is row i's posting count, and the other three are the
    decode_term_postings outputs of every row concatenated in row order.

    rows carry docs_bin/tfs_bin/dls_bin and blocks (positional tuples in
    BLOCK_KEYS order, as query._read_postings builds them). Each stream is
    ONE svb_decode_blocks call over the rows' concatenated buffers, with
    the block offsets shifted by the preceding rows' byte lengths; one
    global cumsum reconstructs the doc ids, rebased per row because each
    row's first delta restarts from -1."""
    ns: list[int] = []
    offs: list[list[int]] = [[], [], []]
    bufs: list[list[bytes]] = [[], [], []]
    base = [0, 0, 0]
    counts = np.zeros(len(rows), dtype=np.int64)
    for i, r in enumerate(rows):
        n = 0
        for blk in r.blocks:
            ns.append(blk[2])
            for s in range(3):
                offs[s].append(base[s] + blk[3 + s])
            n += blk[2]
        counts[i] = n
        for s, buf in enumerate((r.docs_bin, r.tfs_bin, r.dls_bin)):
            bufs[s].append(buf)
            base[s] += len(buf)
    deltas, tfs, dls = (
        svb_decode_blocks(b"".join(bufs[s]), np.asarray(offs[s], dtype=np.int64), ns)
        for s in range(3)
    )
    c = np.cumsum(deltas.astype(np.int64))
    starts = np.cumsum(counts) - counts
    row_base = np.concatenate(([0], c))[starts]
    doc_ids = c - np.repeat(row_base + 1, counts)
    return counts, doc_ids, tfs, dls


def decode_term_positions(
    tfs: np.ndarray, pos_bin: bytes, pos_offs, blocks: list
) -> np.ndarray:
    """Decode one (shard, term)'s token positions -> flat uint32 array of
    ABSOLUTE positions in posting order (posting i's occurrences are
    positions[cum_tf[i]:cum_tf[i+1]]).

    tfs: the term's already-decoded tf array (decode_term_postings) — the
    position stream carries no lengths of its own because each posting's
    position count IS its tf. pos_offs: per-block byte offsets within
    pos_bin (the blk_pos_off column); blocks: the standard block metadata
    (for per-block posting counts). Deltas are cumulative within each
    posting: first value raw, rest gaps — undone vectorized with one
    cumsum per block and a per-posting rebase."""
    n_blocks = len(blocks)
    if n_blocks == 0 or len(pos_bin) == 0:
        return np.empty(0, dtype=np.uint32)
    # batched decode: per-block occurrence counts are the block's tf sums
    # (posting runs never straddle blocks), then ONE global cumsum + a
    # per-posting rebase undoes the within-posting deltas for every
    # posting of every block at once.
    tf64 = np.asarray(tfs, dtype=np.int64)
    ns_post = np.fromiter((b[2] for b in blocks), dtype=np.int64, count=n_blocks)
    post_cum = np.concatenate(([0], np.cumsum(ns_post)))
    occ_cum_post = np.concatenate(([0], np.cumsum(tf64)))
    n_occ_blk = occ_cum_post[post_cum[1:]] - occ_cum_post[post_cum[:-1]]
    offs = np.asarray(list(pos_offs), dtype=np.int64)
    deltas = svb_decode_blocks(pos_bin, offs, n_occ_blk).astype(np.int64)
    c = np.cumsum(deltas)
    run_end = np.cumsum(tf64)
    base = np.concatenate(([0], c[run_end[:-1] - 1]))
    return (c - np.repeat(base, tf64)).astype(np.uint32)
