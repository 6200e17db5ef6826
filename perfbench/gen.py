"""Seeded input generators and their expected results.

Every input the benchmark feeds graft is written here, by code that shares
nothing with graft: the VCF text, its BGZF blocks and `.tbi` index, the
parquet landings, the text corpus and the embeddings. Each generator also
computes, from what it planted, the results graft must reproduce; they go to
`expect.json` next to the inputs. The same (workload, seed) always gives the
same bytes.
"""

import itertools
import json
import operator
import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- BGZF / tabix

BGZF_BLOCK = 0xFF00  # uncompressed bytes per block, as htslib's bgzip
BGZF_EOF = bytes.fromhex(
    "1f8b08040000000000ff0600424302001b0003000000000000000000")


def _bgzf_block(data):
    c = zlib.compressobj(1, zlib.DEFLATED, -15)
    body = c.compress(data) + c.flush()
    bsize = len(body) + 25
    head = struct.pack("<BBBBIBBHBBHH", 0x1F, 0x8B, 8, 4, 0, 0, 0xFF, 6,
                       ord("B"), ord("C"), 2, bsize)
    tail = struct.pack("<II", zlib.crc32(data) & 0xFFFFFFFF, len(data))
    return head + body + tail


class BgzfWriter:
    """BGZF stream that reports the virtual offset of every record."""

    def __init__(self, path):
        self.f = open(path, "wb")
        self.coff = 0
        self.buf = bytearray()

    def _flush(self):
        blk = _bgzf_block(bytes(self.buf[:BGZF_BLOCK]))
        self.f.write(blk)
        self.coff += len(blk)
        del self.buf[:BGZF_BLOCK]

    def voff(self):
        return (self.coff << 16) | len(self.buf)

    def write(self, data):
        """Append bytes; returns (start voff, end voff)."""
        beg = self.voff()
        self.buf += data
        while len(self.buf) >= BGZF_BLOCK:
            self._flush()
        return beg, self.voff()

    def close(self):
        while self.buf:
            self._flush()
        self.f.write(BGZF_EOF)
        self.f.close()


def reg2bin(beg, end):
    """SAMtools spec reg2bin for [beg, end), min_shift 14, depth 5."""
    end -= 1
    for shift, off in ((14, 4681), (17, 585), (20, 73), (23, 9), (26, 1)):
        if beg >> shift == end >> shift:
            return off + (beg >> shift)
    return 0


def write_tbi(path, refs):
    """Tabix index for a VCF. `refs`: [(name, [(beg0, end0, v0, v1), ...])]
    in file order, records sorted by beg0."""
    out = bytearray(b"TBI\x01")
    names = b"".join(n.encode() + b"\0" for n, _ in refs)
    out += struct.pack("<8i", len(refs), 2, 1, 2, 0, ord("#"), 0, len(names))
    out += names
    for _, recs in refs:
        bins = {}
        ioff = []
        for beg, end, v0, v1 in recs:
            chunks = bins.setdefault(reg2bin(beg, end), [])
            if chunks and chunks[-1][1] == v0:
                chunks[-1][1] = v1
            else:
                chunks.append([v0, v1])
            for w in range(beg >> 14, ((end - 1) >> 14) + 1):
                if w >= len(ioff):
                    ioff.extend([0] * (w + 1 - len(ioff)))
                if ioff[w] == 0:
                    ioff[w] = v0
        for i in range(1, len(ioff)):
            if ioff[i] == 0:
                ioff[i] = ioff[i - 1]
        out += struct.pack("<i", len(bins) + 1)
        for b in sorted(bins):
            out += struct.pack("<Ii", b, len(bins[b]))
            for v0, v1 in bins[b]:
                out += struct.pack("<QQ", v0, v1)
        # htslib's per-reference pseudo-bin: data span, then mapped/unmapped
        out += struct.pack("<IiQQQQ", 37450, 2, recs[0][2], recs[-1][3],
                           len(recs), 0)
        out += struct.pack("<i", len(ioff))
        out += struct.pack("<%dQ" % len(ioff), *ioff)
    out += struct.pack("<Q", 0)
    w = BgzfWriter(path)
    w.write(bytes(out))
    w.close()


# ------------------------------------------------------- variant semantics

def vartype(ref, alt):
    """pandasVCF's allele classifier (variant_annotations.py:130-162) with
    the VCF 4.2 symbolic classes checked first."""
    if alt == "*":
        return "star"
    if len(alt) >= 2 and alt[0] == "<" and alt[-1] == ">":
        return "sv"
    if "[" in alt or "]" in alt:
        return "bnd"
    if ref == alt:
        return "ref"
    if len(ref) == len(alt):
        return "snp" if sum(a != b for a, b in zip(ref, alt)) == 1 else "mnp"
    if len(ref) > len(alt):
        return "indel" if any(a != b for a, b in zip(ref, alt)) else "del"
    return "ins"


def zygosity(ref, a1, a2):
    if a1 == ref and a2 == ref:
        return "hom-ref"
    if a1 == "." and a2 == ".":
        return "hom-miss"
    if a1 == "." or a2 == ".":
        return "het-miss"
    if a1 != ref and a2 != ref:
        return "het-alt" if a1 != a2 else "hom-alt"
    return "het-ref"


MISSING_GT = {"./.", ".|.", ".", ""}


def allele(alleles, idx):
    return "." if idx is None or idx == "." else alleles[int(idx)]


def call_classes(ref, alt, gt):
    """(zygosity, vartype1) of one non-missing call, or None if dropped."""
    if gt in MISSING_GT:
        return None
    alleles = [ref] + alt.split(",")
    parts = gt.replace("|", "/").split("/")
    a1 = allele(alleles, parts[0])
    a2 = allele(alleles, parts[1] if len(parts) > 1 else None)
    return zygosity(ref, a1, a2), vartype(ref, a1)


BASES = "ACGT"

# Genotype weights, in percent of a site's calls. A typical 1000 Genomes
# Phase 3 genome differs from the reference at 4.1-5.0 M of the call set's
# 88 M sites (Auton et al., "A global reference for human genetic
# variation", Nature 526:68-74, 2015), so about 5.2% of calls carry an ALT
# allele. The het : hom-alt split (3 : 2) is an assumption, not from that
# paper. Phase 3 calls are phased and complete; the unphased and missing
# calls below are coverage shares, not measured frequencies, so that every
# branch of the zygosity classifier runs.
GT_BI = ["0|0", "0/0", "0|1", "1|0", "0/1", "1|1", "1/1", "./.", ".|.",
         "./1", "0/.", "1/."]
W_BI = [94.3, 0.5, 1.4, 1.4, 0.3, 1.9, 0.2, 0.5, 0.2, 0.2, 0.2, 0.1]
# the second ALT of a multiallelic site: coverage shares
GT_MULTI = GT_BI + ["1/2", "2|1", "0|2", "2/2", "2/."]
W_MULTI = W_BI + [0.3, 0.3, 1.0, 0.3, 0.1]
# haploid calls (chrX of males): the same ALT share
GT_HAP = ["0", "1", "."]
W_HAP = [94.3, 5.2, 0.5]
GT_ALL = GT_MULTI + GT_HAP
GT_BI_IDX = np.arange(len(GT_BI))
GT_MULTI_IDX = np.arange(len(GT_MULTI))
GT_HAP_IDX = np.arange(len(GT_MULTI), len(GT_ALL))
CALL_POOL = 512


def _site_alleles(rng, kind):
    def seq(n):
        return "".join(BASES[i] for i in rng.integers(0, 4, n))

    def other(b):
        return BASES[(BASES.index(b) + 1 + int(rng.integers(0, 3))) % 4]
    r0 = seq(1)
    if kind == "snp":
        return r0, other(r0)
    if kind == "mnp":
        ref = seq(int(rng.integers(2, 4)))
        return ref, "".join(other(b) for b in ref)
    if kind == "ins":
        return r0, r0 + seq(int(rng.integers(1, 6)))
    if kind == "del":
        ref = seq(int(rng.integers(2, 7)))
        return ref, ref[0]
    if kind == "indel":
        ref = seq(3)
        return ref, other(ref[0]) + seq(1)
    if kind == "multi":
        a = other(r0)
        return r0, a + "," + (r0 + seq(2) if rng.random() < 0.5 else other(a))
    if kind == "sv":
        return r0, "<DEL>"
    return r0, "."  # missing ALT


# Variant classes, in percent of sites. SNPs, short indels and SVs in the
# proportions of the same Phase 3 call set (84.7 M SNPs, 3.6 M short
# indels, 60 k SVs), with insertions and deletions split evenly. MNPs,
# complex indels, multiallelic sites and missing ALT get 0.5 each on top:
# coverage shares, not measured frequencies.
KINDS = ["snp", "ins", "del", "sv", "mnp", "indel", "multi", "missing"]
W_KINDS = [95.9, 2.0, 2.0, 0.07, 0.5, 0.5, 0.5, 0.5]


def _pick(rng, n, weights):
    p = np.asarray(weights, dtype=float)
    return rng.choice(len(weights), size=n, p=p / p.sum())


def cohort(rng, n_sites, n_samples, chroms, haploid_chrom="X"):
    """A cohort weighted as above: per-site alleles and per-call GT:DP:AD strings.
    Returns (records, samples, oracle): records are (chrom, pos, ref, alt,
    calls) and the oracle is what annotate(drop_hom_ref, AD split) yields."""
    samples = ["HG%05d" % (100 + i) for i in range(n_samples)]
    males = np.zeros(n_samples, dtype=bool)
    males[rng.choice(n_samples, n_samples // 2, replace=False)] = True
    per_chrom = np.bincount(rng.integers(0, len(chroms), n_sites),
                            minlength=len(chroms))
    sites = []
    for c, n in zip(chroms, per_chrom):
        for p in np.cumsum(rng.integers(20, 4000, n)) + 10_000:
            sites.append((c, int(p)))
    kinds = _pick(rng, len(sites), W_KINDS)
    # one table of finished call strings: GT x a pool of (DP, AD) draws
    pool_dp = rng.integers(0, 64, CALL_POOL)
    pool_ad0 = rng.integers(0, 32, CALL_POOL)
    pool_ad1 = rng.integers(0, 32, CALL_POOL)
    table = [g + (":.:." if g in MISSING_GT else ":%d:%d,%d" % (d, a, b))
             for g in GT_ALL
             for d, a, b in zip(pool_dp, pool_ad0, pool_ad1)]
    hist = {}
    sum_homref = sum_ad0 = sum_ad1 = out_rows = 0
    recs = []
    for (c, p), k in zip(sites, kinds):
        ref, alt = _site_alleles(rng, KINDS[k])
        gi = (GT_MULTI_IDX if "," in alt else GT_BI_IDX)[
            _pick(rng, n_samples, W_MULTI if "," in alt else W_BI)]
        if c == haploid_chrom:
            gi = np.where(males, GT_HAP_IDX[_pick(rng, n_samples, W_HAP)], gi)
        ji = rng.integers(0, CALL_POOL, n_samples)
        calls = list(operator.itemgetter(*(gi * CALL_POOL + ji).tolist())(table))
        recs.append((c, p, ref, alt, calls))
        if alt == ".":
            continue
        present = np.unique(gi)
        cls = {int(g): call_classes(ref, alt, GT_ALL[g]) for g in present}
        homref = int(sum(int((gi == g).sum()) for g, x in cls.items()
                         if x and x[0] == "hom-ref"))
        out = np.zeros(n_samples, dtype=bool)
        for g, x in cls.items():
            if x is None or x[0] == "hom-ref":
                continue
            hit = gi == g
            key = x[0] + "|" + x[1]
            hist[key] = hist.get(key, 0) + int(hit.sum())
            out |= hit
        n_out = int(out.sum())
        out_rows += n_out
        sum_homref += homref * n_out
        sum_ad0 += int(pool_ad0[ji[out]].sum())
        sum_ad1 += int(pool_ad1[ji[out]].sum())
    oracle = {"rows": out_rows, "hist": hist, "sum_hom_ref_counts": sum_homref,
              "sum_ad0": sum_ad0, "sum_ad1": sum_ad1}
    return recs, samples, oracle


def vcf_header(chroms, samples, lengths):
    lines = ["##fileformat=VCFv4.2", "##source=graft-perfbench"]
    lines += ["##contig=<ID=%s,length=%d>" % (c, lengths[c]) for c in chroms]
    lines += [
        '##INFO=<ID=NS,Number=1,Type=Integer,Description="Samples with data">',
        '##INFO=<ID=AF,Number=A,Type=Float,Description="Allele frequency">',
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
        '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Read depth">',
        '##FORMAT=<ID=AD,Number=R,Type=Integer,Description="Allelic depths">',
        "\t".join(["#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER",
                   "INFO", "FORMAT"] + samples)]
    return "\n".join(lines) + "\n"


def _info(rng, n_samples):
    return "NS=%d;AF=%.3f" % (n_samples, rng.random())


# ---------------------------------------------------------------- workloads

def _write_parquet(table, path):
    """Eight row groups, so a scan can split the file across cores."""
    pq.write_table(table, path,
                   row_group_size=max(1, -(-table.num_rows // 8)))


def gen_vcf_annotate(rng, d, size):
    chroms = ["20", "21", "22", "X"]
    recs, samples, oracle = cohort(rng, size["sites"], size["samples"], chroms)
    lengths = {c: max([p for cc, p, *_ in recs if cc == c] + [1]) + 1000
               for c in chroms}
    path = os.path.join(d, "cohort.vcf.gz")
    w = BgzfWriter(path)
    w.write(vcf_header(chroms, samples, lengths).encode())
    text_bytes = 0
    refs = []
    for c, p, ref, alt, calls in recs:
        line = "\t".join([c, str(p), ".", ref, alt, "50", "PASS",
                          _info(rng, len(samples)), "GT:DP:AD"] + calls) + "\n"
        b = line.encode()
        text_bytes += len(b)
        v0, v1 = w.write(b)
        if not refs or refs[-1][0] != c:
            refs.append((c, []))
        refs[-1][1].append((p - 1, p - 1 + len(ref), v0, v1))
    w.close()
    write_tbi(path + ".tbi", refs)
    oracle.update(records=len(recs), samples=len(samples),
                  calls=len(recs) * len(samples), text_bytes=text_bytes)
    return oracle


def _intervals(rng, n, chroms, span, lengths):
    c = rng.integers(0, len(chroms), n)
    start = rng.integers(1, span, n)
    end = np.minimum(start + lengths - 1, span + 5_000_000)
    order = np.lexsort((end, start, c))
    return c[order], start[order], end[order]


def _heavy_tail(rng, n):
    """Mostly short, a few multi-Mb: 90% 50bp-5kb, 9% 10-200kb, 1% 1-4Mb."""
    u = rng.random(n)
    return np.where(u < 0.90, rng.integers(50, 5_000, n),
                    np.where(u < 0.99, rng.integers(10_000, 200_000, n),
                             rng.integers(1_000_000, 4_000_000, n)))


def gen_interval_join(rng, d, size):
    chroms = ["1", "2", "3", "4"]
    span = 40_000_000
    n = size["sites"]
    sc = rng.integers(0, len(chroms), n)
    spos = rng.choice(span, n, replace=False) + 1
    order = np.lexsort((spos, sc))
    sc, spos = sc[order], spos[order]
    _write_parquet(pa.table({
        "chrom": [chroms[i] for i in sc],
        "pos": pa.array(spos, pa.int32()),
        "ref": [BASES[i] for i in rng.integers(0, 4, n)],
        "alt": [BASES[i] for i in rng.integers(0, 4, n)]}),
        os.path.join(d, "sites.parquet"))
    rc, rs, re_ = _intervals(rng, size["regions"], chroms, span,
                             _heavy_tail(rng, size["regions"]))
    _write_parquet(pa.table({
        "chrom": [chroms[i] for i in rc],
        "start": pa.array(rs, pa.int32()), "end": pa.array(re_, pa.int32()),
        "region": pa.array(np.arange(len(rs)), pa.int64())}),
        os.path.join(d, "regions.parquet"))
    fc, fs, fe = _intervals(rng, size["features"], chroms, span,
                            rng.integers(1_000, 50_000, size["features"]))
    _write_parquet(pa.table({
        "chrom": [chroms[i] for i in fc],
        "start": pa.array(fs, pa.int32()), "end": pa.array(fe, pa.int32()),
        "feature": pa.array(np.arange(len(fs)), pa.int64())}),
        os.path.join(d, "features.parquet"))

    max_dist = 50_000
    point_pairs = overlap_pairs = near_n = near_dist = 0
    depth = {}
    for ci, c in enumerate(chroms):
        p = spos[sc == ci]
        r_s, r_e = np.sort(rs[rc == ci]), np.sort(re_[rc == ci])
        f_s, f_e = fs[fc == ci], fe[fc == ci]
        # closed intervals: #(start <= p) - #(end < p)
        point_pairs += int((np.searchsorted(r_s, p, "right")
                            - np.searchsorted(r_e, p, "left")).sum())
        # pairs minus the disjoint ones (l.end < r.start or r.end < l.start)
        fs_sorted, fe_sorted = np.sort(f_s), np.sort(f_e)
        disjoint = (np.searchsorted(r_e, fs_sorted, "left").sum()
                    + np.searchsorted(fe_sorted, r_s, "left").sum())
        overlap_pairs += int(len(r_s) * len(f_s) - disjoint)
        # nearest feature: covered, or nearest end on the left / start right
        o = np.argsort(f_s, kind="stable")
        by_s, ends = f_s[o], f_e[o]
        run_max = np.maximum.accumulate(ends) if len(ends) else ends
        k = np.searchsorted(by_s, p, "right")
        left = np.where(k > 0, p - run_max[np.maximum(k - 1, 0)], np.inf)
        left = np.where(left <= 0, 0, left)
        right = np.where(k < len(by_s), by_s[np.minimum(k, len(by_s) - 1)] - p,
                         np.inf)
        dist = np.minimum(left, right)
        hit = dist <= max_dist
        near_n += int(hit.sum())
        near_dist += int(dist[hit].sum())
        # coverage depth: +1 at start, -1 at end+1, run lengths by depth
        ev = {}
        for s in rs[rc == ci]:
            ev[int(s)] = ev.get(int(s), 0) + 1
        for e in re_[rc == ci]:
            ev[int(e) + 1] = ev.get(int(e) + 1, 0) - 1
        keys = sorted(ev)
        run = 0
        for a, b in zip(keys, keys[1:]):
            run += ev[a]
            if run > 0:
                k2 = c + "|" + str(run)
                depth[k2] = depth.get(k2, 0) + (b - a)
    return {"sites": n, "max_dist": max_dist, "point_pairs": point_pairs,
            "overlap_pairs": overlap_pairs, "nearest_rows": near_n,
            "nearest_dist_sum": near_dist, "depth": depth}


# graft's fixed MinHash family (TextFunctions.MinhashA/B): 16 maps
# h_j(x) = (a_j x + b_j) mod 1e9+7 over rolling hashes of word n-grams
MINHASH_A = [7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59, 61, 67]
MINHASH_B = [3, 5, 17, 23, 29, 31, 41, 43, 47, 53, 59, 61, 67, 71, 73, 79]
HASH_MOD = 1_000_000_007


def rolling_hash(text):
    h = 0
    for ch in text:
        h = (h * 31 + ord(ch)) % HASH_MOD
    return h


def lsh_pairs(ids, shingle_sets, bands):
    """Every (smaller id, larger id) pair of documents that share a band of
    their MinHash signature."""
    rows = len(MINHASH_A) // bands
    buckets = {}
    for doc, shingles in zip(ids, shingle_sets):
        hs = {rolling_hash(x) for x in shingles}
        sig = [min((x * a + b) % HASH_MOD for x in hs)
               for a, b in zip(MINHASH_A, MINHASH_B)]
        for band in range(bands):
            key = "_".join(str(m) for m in sig[band * rows:(band + 1) * rows])
            buckets.setdefault((band, key), []).append(doc)
    return sorted({p for docs in buckets.values()
                   for p in itertools.combinations(sorted(docs), 2)})


def gen_corpus_dedup(rng, d, size):
    vocab = ["".join(chr(97 + x) for x in rng.integers(0, 26, int(k)))
             for k in rng.integers(3, 10, size["vocab"])]
    n_docs = size["docs"]
    docs = []
    families = []
    while len(docs) < n_docs:
        words = [vocab[i] for i in rng.integers(0, len(vocab),
                                                int(rng.integers(60, 100)))]
        fam = [len(docs)]
        docs.append(words)
        if rng.random() < 0.15:
            for _ in range(int(rng.integers(1, 4))):
                if len(docs) >= n_docs:
                    break
                copy = list(words)
                for j in rng.choice(len(copy), 2, replace=False):
                    copy[j] = vocab[int(rng.integers(0, len(vocab)))]
                fam.append(len(docs))
                docs.append(copy)
        if len(fam) > 1:
            families.append(fam)
    # shuffle ids so families are not contiguous
    perm = rng.permutation(n_docs)
    ids = perm.tolist()
    families = [sorted(ids[i] for i in f) for f in families]
    _write_parquet(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": [" ".join(w) for w in docs]}),
        os.path.join(d, "docs.parquet"))

    shingle, bands = 5, 8
    sets = [set(" ".join(w[i:i + shingle]) for i in range(len(w) - shingle + 1))
            for w in docs]
    planted = [[a, b] for f in families for a, b in itertools.combinations(f, 2)]
    pairs = lsh_pairs(ids, sets, bands)

    dim, k, n_vec = size["dim"], size["clusters"], size["vectors"]
    centers = rng.normal(0, 1, (k, dim))
    centers *= 8.0 / np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, k, n_vec)
    vecs = centers[label] + rng.normal(0, 1, (n_vec, dim))
    n_dup = n_vec // 20
    src = rng.choice(n_vec - n_dup, n_dup, replace=False)
    vecs[n_vec - n_dup:] = vecs[src] + rng.normal(0, 1e-3, (n_dup, dim))
    label[n_vec - n_dup:] = label[src]
    vecs = np.round(vecs, 6)
    _write_parquet(pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "v": pa.array(list(vecs), pa.list_(pa.float64()))}),
        os.path.join(d, "vectors.parquet"))
    seeds = sorted(int(rng.choice(np.nonzero(label == c)[0])) for c in range(k)
                   if (label == c).any())
    tau = 0.95
    cents, hist = kmeans(vecs, vecs[seeds])
    return {"docs": n_docs, "vectors": n_vec, "shingle": shingle,
            "bands": bands, "planted_pairs": planted,
            "lsh_pairs": [list(p) for p in pairs],
            "seed_vectors": seeds, "tau": tau,
            "kmeans_centroids": cents.tolist(), "kmeans_hist": hist,
            "semdedup_dropped": semdedup_dropped(vecs, cents, tau)}


def _nearest(vecs, cents):
    """(index of the nearest centroid, squared distance to it) per vector;
    ties go to the lower index."""
    d = ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    return d.argmin(axis=1), d.min(axis=1)


def kmeans(vecs, seeds, max_iters=10, rel_tol=1e-3):
    """Lloyd's algorithm under `Similarity.kmeansTrain`'s documented rule:
    the objective (sum of squared distances to the nearest centroid) is
    taken for every round's centroids; training stops once a round improves
    it by no more than `rel_tol` of the previous value, or after `max_iters`
    updates; means are rounded to 6 decimals; an empty cell keeps its
    centroid. Returns the best-objective centroids and the objective
    history, seeds first."""
    cents = seeds.copy()
    best, hist = cents, []
    for it in range(max_iters + 1):
        cell, dist = _nearest(vecs, cents)
        err = float(dist.sum())
        if hist and err < min(hist):
            best = cents
        stop = bool(hist) and hist[-1] - err <= rel_tol * hist[-1]
        hist.append(err)
        if stop or it == max_iters:
            break
        cents = np.array([np.round(vecs[cell == c].mean(axis=0), 6)
                          if (cell == c).any() else cents[c]
                          for c in range(len(cents))])
    return best, hist


def semdedup_dropped(vecs, cents, tau):
    """`Dedup.semanticDedup`'s drop set: within each nearest-centroid cell,
    every vector whose cosine to some lower id is at least `tau`."""
    cell, _ = _nearest(vecs, cents)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    close = (unit @ unit.T >= tau) & (cell[:, None] == cell[None, :])
    return np.nonzero(np.tril(close, -1).any(axis=1))[0].tolist()


GENERATORS = {
    "vcf-annotate": gen_vcf_annotate,
    "interval-join": gen_interval_join,
    "corpus-dedup": gen_corpus_dedup,
}

SIZES = {
    "vcf-annotate": {"sites": 2400, "samples": 150},
    "interval-join": {"sites": 200_000, "regions": 10_000, "features": 4_000},
    "corpus-dedup": {"vocab": 3000, "docs": 200, "vectors": 600, "dim": 32,
                     "clusters": 8},
}


def generate(workload, seed, d):
    """Write the inputs of (workload, seed) under `d` and return the path of
    their expect.json. Reuses a complete earlier generation."""
    done = os.path.join(d, "expect.json")
    if os.path.exists(done):
        return done
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng([seed % 2**63, zlib.crc32(workload.encode())])
    expect = GENERATORS[workload](rng, d, SIZES[workload])
    expect["workload"] = workload
    expect["seed"] = seed
    tmp = done + ".tmp"
    with open(tmp, "w") as f:
        json.dump(expect, f)
    os.replace(tmp, done)
    return done
