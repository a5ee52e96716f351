"""Seeded input generators with planted truth, one per workload.

Every generator is a pure function of ``(seed, size, out_dir)``: the
same seed writes byte-identical files, and the returned truth object is
what the workload's output check compares against. The program under
test only ever sees the files.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def _write_parquet(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


# --------------------------------------------------------------------------
# methyl_dmp: long beta table + probe and sample dimensions.


@dataclass
class MethylTruth:
    n_rows: int
    samples: list[str]
    failing_sample: str
    dmps: set[str]


def methyl_inputs(seed: int, n_probes: int, n_samples: int, out_dir: str) -> MethylTruth:
    """Long beta table of ``n_probes`` x ``n_samples`` with two batches
    (``run``), two balanced genotypes, ~2 % non-cg control probes, ~3 %
    sex-chromosome probes, ~1 % missing rows, one sample whose mean
    detection p fails QC, and planted differentially methylated probes
    (KO vs WT) on probes that survive every QC filter."""
    rng = np.random.default_rng(seed)
    kind = rng.random(n_probes)
    probe_ids = np.array(
        [
            ("rs%07d" if k < 0.01 else "ch%07d" if k < 0.02 else "cg%08d") % i
            for i, k in enumerate(kind)
        ]
    )
    is_cg = kind >= 0.02
    sex = rng.random(n_probes) < 0.03
    chrom = np.where(
        sex,
        np.where(rng.random(n_probes) < 0.7, "chrX", "chrY"),
        np.char.add("chr", rng.integers(1, 20, n_probes).astype(str)),
    )
    design = np.where(rng.random(n_probes) < 0.25, 1, 2).astype("int32")
    probes = pd.DataFrame({"probe_id": probe_ids, "chr": chrom, "design_type": design})

    samples = [f"S{i:02d}" for i in range(n_samples)]
    run = np.array(["R0" if i < n_samples // 2 else "R1" for i in range(n_samples)])
    genotype = np.array(["WT" if i % 2 == 0 else "KO" for i in range(n_samples)])
    sheet = pd.DataFrame({"sample_id": samples, "run": run, "genotype": genotype})
    failing = samples[int(rng.integers(0, n_samples))]

    # M-value model: unmethylated / hemi / methylated probe states, a
    # per-probe batch shift for R1, per-cell noise.
    state = rng.choice(3, n_probes, p=[0.45, 0.15, 0.40])
    base = np.array([-3.5, 0.0, 3.0])[state] + rng.normal(0, 0.6, n_probes)
    batch_shift = rng.normal(0.4, 0.15, n_probes)
    m = base[:, None] + rng.normal(0, 0.25, (n_probes, n_samples))
    m[:, run == "R1"] += batch_shift[:, None]

    # cells removed or failing detection, only in samples that pass QC
    good_cols = np.array([s != failing for s in samples])
    missing = (rng.random((n_probes, n_samples)) < 0.01) & good_cols
    bad_detp = (rng.random((n_probes, n_samples)) < 0.002) & good_cols & ~missing
    survives = (
        is_cg & ~sex & ~missing.any(axis=1) & ~bad_detp.any(axis=1)
    )
    dmp = survives & (rng.random(n_probes) < 0.02)
    # shift KO toward the opposite state, several noise SDs away
    m[np.ix_(dmp, genotype == "KO")] += np.where(base[dmp] > 0, -2.5, 2.5)[:, None]

    beta = 2.0**m / (1.0 + 2.0**m)
    type2 = design == 2
    beta[type2] = 0.05 + 0.9 * beta[type2]  # Type II compression BMIQ undoes
    detp = rng.uniform(0, 0.004, (n_probes, n_samples))
    detp[:, samples.index(failing)] = rng.uniform(0, 0.2, n_probes)
    detp[bad_detp] = rng.uniform(0.06, 0.5, int(bad_detp.sum()))

    meth_dir = os.path.join(out_dir, "meth.parquet")
    os.makedirs(meth_dir, exist_ok=True)
    n_rows = 0
    for j, sid in enumerate(samples):
        keep = ~missing[:, j]
        n_rows += int(keep.sum())
        _write_parquet(
            pd.DataFrame(
                {
                    "probe_id": probe_ids[keep],
                    "sample_id": sid,
                    "run": run[j],
                    "beta": beta[keep, j],
                    "det_p": detp[keep, j],
                }
            ),
            os.path.join(meth_dir, f"part-{j:02d}.parquet"),
        )
    _write_parquet(probes, os.path.join(out_dir, "probes.parquet"))
    _write_parquet(sheet, os.path.join(out_dir, "samples.parquet"))
    return MethylTruth(n_rows, samples, failing, set(probe_ids[dmp]))


# --------------------------------------------------------------------------
# idat_ingest: IDAT v3 Red/Grn pairs + probe manifest.


def _idat_string(s: str) -> bytes:
    raw = s.encode("utf-8")
    n = len(raw)
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            break
    return bytes(out) + raw


def make_idat(
    addresses: np.ndarray,
    means: np.ndarray,
    sds: np.ndarray | None = None,
    n_beads: np.ndarray | None = None,
    barcode: str = "204375590015",
    position: str = "R01C01",
) -> bytes:
    """Encode an IDAT v3 blob in the published illuminaio layout:
    header, field directory, payloads (all little-endian)."""
    n = len(addresses)
    if sds is None:
        sds = np.full(n, 7, dtype="<u2")
    if n_beads is None:
        n_beads = np.full(n, 12, dtype="u1")
    payloads = [
        (1000, struct.pack("<i", n)),
        (102, addresses.astype("<i4").tobytes()),
        (103, sds.astype("<u2").tobytes()),
        (104, means.astype("<u2").tobytes()),
        (107, n_beads.astype("u1").tobytes()),
        (400, struct.pack("<i", 1)),
        (402, _idat_string(barcode)),
        (403, _idat_string("BeadChip 8x5")),
        (404, _idat_string(position)),
    ]
    header_size = 4 + 8 + 4 + 10 * len(payloads)
    body = bytearray()
    directory = bytearray()
    off = header_size
    for code, blob in payloads:
        directory += struct.pack("<Hq", code, off)
        body += blob
        off += len(blob)
    return b"IDAT" + struct.pack("<q", 3) + struct.pack("<i", len(payloads)) + bytes(
        directory
    ) + bytes(body)


@dataclass
class IdatTruth:
    n_probes: int
    n_samples: int
    n_decoded_rows: int
    basenames: list[str]
    probe_ids: np.ndarray
    beta: np.ndarray  # (n_samples, n_probes): m / (m + u + 100)


def idat_inputs(seed: int, n_probes: int, n_samples: int, out_dir: str) -> IdatTruth:
    """``n_samples`` Red/Grn IDAT pairs over ``n_probes`` probes (20 %
    Type I, which read two bead addresses in one colour; Type II read
    one address in both colours) plus the probe manifest."""
    rng = np.random.default_rng(seed)
    type1 = rng.random(n_probes) < 0.2
    n_addr = n_probes + int(type1.sum())
    addr = rng.choice(np.arange(10_000_000, 99_999_999), n_addr, replace=False)
    address_m = addr[:n_probes]
    address_u = address_m.copy()
    address_u[type1] = addr[n_probes:]
    color = np.where(type1, np.where(rng.random(n_probes) < 0.5, "Red", "Grn"), None)
    probe_ids = np.array([f"cg{i:08d}" for i in range(n_probes)])
    manifest = pd.DataFrame(
        {
            "probe_id": probe_ids,
            "design_type": np.where(type1, "I", "II"),
            "color": color,
            "address_m": address_m.astype("int64"),
            "address_u": address_u.astype("int64"),
        }
    )
    _write_parquet(manifest, os.path.join(out_dir, "manifest.parquet"))

    # one address list per array, ascending as the scanner writes it
    all_addr = np.sort(addr)
    pos_m = np.searchsorted(all_addr, address_m)
    pos_u = np.searchsorted(all_addr, address_u)
    idat_dir = os.path.join(out_dir, "idat")
    os.makedirs(idat_dir, exist_ok=True)
    basenames = []
    beta = np.empty((n_samples, n_probes))
    for s in range(n_samples):
        barcode = f"20437559{s // 8:04d}"
        position = f"R{s % 8 + 1:02d}C01"
        base = f"{barcode}_{position}"
        basenames.append(base)
        level = rng.beta(0.6, 0.6, n_probes)
        total = rng.lognormal(np.log(6000), 0.4, n_probes)
        m_int = np.clip(np.rint(total * level), 1, 65535).astype(np.int64)
        u_int = np.clip(np.rint(total * (1 - level)), 1, 65535).astype(np.int64)
        beta[s] = m_int / (m_int + u_int + 100.0)
        for channel in ("Grn", "Red"):
            means = rng.integers(50, 400, n_addr)  # off-colour background
            t2 = ~type1
            means[pos_m[t2]] = m_int[t2] if channel == "Grn" else u_int[t2]
            own = type1 & (color == channel)
            means[pos_m[own]] = m_int[own]
            means[pos_u[own]] = u_int[own]
            blob = make_idat(all_addr, means.astype("<u2"), barcode=barcode, position=position)
            with open(os.path.join(idat_dir, f"{base}_{channel}.idat"), "wb") as fh:
                fh.write(blob)
    return IdatTruth(
        n_probes, n_samples, 2 * n_samples * n_addr, basenames, probe_ids, beta
    )


# --------------------------------------------------------------------------
# corpus_curate: documents + benchmark (eval) set.

STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"]
_ONSETS = ["b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z", "br", "st", "tr"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ou"]


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    words: set[str] = set()
    while len(words) < size:
        n_syl = int(rng.integers(2, 4))
        words.add("".join(
            _ONSETS[rng.integers(len(_ONSETS))] + _VOWELS[rng.integers(len(_VOWELS))]
            for _ in range(n_syl)
        ))
    return np.array(sorted(words))


@dataclass
class CorpusTruth:
    n_docs: int
    survivors: set[int]
    near_dup_pairs: set[tuple[int, int]]
    planted_pairs: set[tuple[int, int]]


def corpus_inputs(
    seed: int, n_docs: int, slice_docs: int, out_dir: str
) -> CorpusTruth:
    """~``n_docs`` documents of ~300 characters: prose-like text (a
    syllable vocabulary with English stopwords, so ~92 % pass the
    quality gate) with planted gate failures (too short, repetitive),
    PII, benchmark contamination, exact duplicates (case and spacing
    variants) and near duplicates (one word appended). Truth covers the
    curation survivors and the near-duplicate pairs among the first
    ``slice_docs`` ids."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, 20_000)
    stop = np.array(STOPWORDS)

    def prose(n_words: int) -> list[str]:
        w = vocab[rng.integers(len(vocab), size=n_words)]
        is_stop = rng.random(n_words) < 0.3
        w[is_stop] = stop[rng.integers(len(stop), size=int(is_stop.sum()))]
        w[0] = "the"  # at least one stopword
        return list(w)

    bench_texts = [" ".join(vocab[rng.integers(len(vocab), size=40)]) for _ in range(100)]
    roles = rng.choice(
        ["normal", "pii", "short", "repetitive", "contaminated", "exact", "near"],
        n_docs,
        p=[0.75, 0.05, 0.04, 0.04, 0.02, 0.05, 0.05],
    )
    texts: list[str] = []
    originals: list[int] = []  # clean docs a duplicate may copy
    used: set[int] = set()
    survivors: set[int] = set()
    near_pairs: set[tuple[int, int]] = set()
    exact_pairs: set[tuple[int, int]] = set()
    rep_words = iter(rng.permutation(vocab))
    for i, role in enumerate(roles):
        if role in ("exact", "near") and len(originals) > len(used) + 10:
            j = originals[int(rng.integers(len(originals)))]
            while j in used:
                j = originals[int(rng.integers(len(originals)))]
            used.add(j)
            words = texts[j].split(" ")
            if role == "exact":
                words[0] = words[0].upper()
                texts.append("  ".join(words) + " ")
                exact_pairs.add((j, i))
            else:
                texts.append(" ".join(words + [vocab[rng.integers(len(vocab))]]))
                near_pairs.add((j, i))
                survivors.add(i)
            continue
        if role == "short":
            texts.append(" ".join(prose(5)))
            continue
        if role == "repetitive":
            w = next(rep_words)
            texts.append(" ".join([w] * 30 + prose(12)))
            continue
        words = prose(int(rng.integers(42, 56)))
        if role == "contaminated":
            b = bench_texts[int(rng.integers(len(bench_texts)))].split(" ")
            at = int(rng.integers(0, 30))
            k = int(rng.integers(5, len(words) - 8))
            words[k:k + 8] = b[at:at + 8]
            texts.append(" ".join(words))
            continue
        if role == "pii":
            k = int(rng.integers(2, len(words) - 2))
            words[k] = [
                f"{words[1]}.{words[2]}@example.org",
                f"555-{rng.integers(100, 999)}-{rng.integers(1000, 9999)}",
                f"10.{rng.integers(0, 255)}.{rng.integers(0, 255)}.{rng.integers(1, 255)}",
            ][i % 3]
        else:
            originals.append(i)
        texts.append(" ".join(words))
        survivors.add(i)

    n = len(texts)
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "source": np.array([f"shard{i % 8}" for i in range(n)]),
            "text": texts,
        }
    )
    docs_dir = os.path.join(out_dir, "docs.parquet")
    os.makedirs(docs_dir, exist_ok=True)
    for p, part in enumerate(np.array_split(np.arange(n), 8)):
        _write_parquet(docs.iloc[part], os.path.join(docs_dir, f"part-{p}.parquet"))
    _write_parquet(pd.DataFrame({"text": bench_texts}), os.path.join(out_dir, "bench.parquet"))

    def in_slice(pairs):
        return {p for p in pairs if p[1] < slice_docs}

    return CorpusTruth(
        n,
        survivors,
        in_slice(near_pairs),
        in_slice(near_pairs | exact_pairs),
    )
