"""Build the NULL-bearing oracle fixture at ``.nullfix`` in the checkout.

Copies the sf0.001 testdata and injects NULL text, NULL lang, empty
text, and whitespace-only text into the documents table — the data
shapes that exposed the round-6 cross-engine divergences (F.size(NULL)
= -1 token sums, NULLS FIRST tie-breaks, NOT IN vs NULL, concat_ws
NULL-skipping). Run the full battery against it with:

    python tools/make_null_fixture.py
    python tools/check_oracle.py --sf-dir .nullfix
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

SRC = os.environ.get("SPARK_GRAFT_NULLFIX_SRC", "/root/testdata/sf0.001")
DST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".nullfix")


def main() -> None:
    os.makedirs(DST, exist_ok=True)
    mutated = {"documents.parquet", "events.parquet", "embeddings.parquet"}
    for f in os.listdir(SRC):
        if f.endswith(".parquet") and f not in mutated:
            shutil.copy(os.path.join(SRC, f), os.path.join(DST, f))

    df = pq.read_table(os.path.join(SRC, "documents.parquet")).to_pandas()
    df.loc[df.index[3], "text"] = None
    df.loc[df.index[17], "text"] = None
    df.loc[df.index[17], "lang"] = None
    df.loc[df.index[29], "lang"] = None
    df.loc[df.index[41], "text"] = ""
    df.loc[df.index[53], "text"] = "   "
    # pathological-but-legal text shapes (r7): exact-dup pair of a
    # NULL-adjacent doc (dedup winner semantics), tab/newline runs
    # (the \s+ tokenizer must agree), a single very long token, a
    # unicode doc with an NBSP (NOT \s in Java regex or RE2 — both
    # engines must treat it as a token char), and duplicated
    # empty-normalized texts ("" vs "   " share a fingerprint)
    df.loc[df.index[61], "text"] = "dup pair body shared exactly"
    df.loc[df.index[67], "text"] = "dup pair body shared exactly"
    df.loc[df.index[71], "text"] = "tab\tseparated\twords\nand\nnewlines"
    df.loc[df.index[79], "text"] = "x" * 4000
    df.loc[df.index[83], "text"] = "café naïve résumé and nbsp"
    # r12 (VERDICT r11 #4): REAL confusable variants - an NBSP +
    # zero-width-space body beside its plain-space twin (only the
    # unicode-normalized key paths may unify them) and a
    # decomposed-accent body beside its precomposed twin (NFC)
    df.loc[df.index[91], "text"] = "shared\u00a0confusable line\u200b"
    df.loc[df.index[93], "text"] = "shared confusable line"
    df.loc[df.index[97], "text"] = "nfc pair cafe\u0301 body"
    df.loc[df.index[99], "text"] = "nfc pair caf\u00e9 body"
    df.loc[df.index[89], "lang"] = ""
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False),
        os.path.join(DST, "documents.parquet"),
    )
    print(
        f"wrote {DST}: {len(df)} docs, "
        f"{int(df['text'].isna().sum())} null texts, "
        f"{int(df['lang'].isna().sum())} null langs"
    )

    # events: NULL values and a NaN — exercises percentile/median vs
    # quantile_cont skip/order semantics (outlier_mad et al.) and the
    # windowed/sessionized aggregates
    ev = pq.read_table(os.path.join(SRC, "events.parquet")).to_pandas()
    ev.loc[ev.index[5], "value"] = None
    ev.loc[ev.index[23], "value"] = None
    ev.loc[ev.index[47], "value"] = float("nan")
    ev.loc[ev.index[11], "props"] = None
    # NULL user/ts/type rows (r8, VERDICT r7 #5): pin the drop
    # semantics of the funnel/cohort/session operators AND the
    # streaming funnel's state grouping on both engines. Int64 keeps
    # user_id an integer column (plain int64 + None would silently
    # become float64 -> double in parquet).
    ev["user_id"] = ev["user_id"].astype("Int64")
    ev.loc[ev.index[31], "user_id"] = None
    ev.loc[ev.index[59], "ts"] = None
    ev.loc[ev.index[73], "event_type"] = None
    pq.write_table(
        pa.Table.from_pandas(ev, preserve_index=False),
        os.path.join(DST, "events.parquet"),
    )
    print(
        f"wrote events: {len(ev)} rows, "
        f"{int(ev['value'].isna().sum())} null/nan values"
    )

    # embeddings: NULL vector, empty vector, all-zero vector (undefined
    # cosine -> NULL in both engines, and an LSH bucket constant), and
    # a NaN component (r8) — exercises the ANN/cosine/near-dup family's
    # cross-engine NULL/NaN arithmetic
    em = pq.read_table(os.path.join(SRC, "embeddings.parquet")).to_pandas()
    dim = len(em.loc[em.index[0], "embedding"])
    em["embedding"] = em["embedding"].astype(object)
    em.at[em.index[7], "embedding"] = None
    em.at[em.index[19], "embedding"] = []
    em.at[em.index[31], "embedding"] = [0.0] * dim
    nanvec = list(em.loc[em.index[43], "embedding"])
    nanvec[2] = float("nan")
    em.at[em.index[43], "embedding"] = nanvec
    infvec = list(em.loc[em.index[47], "embedding"])
    infvec[0] = float("inf")
    em.at[em.index[47], "embedding"] = infvec
    schema = pq.read_table(os.path.join(SRC, "embeddings.parquet")).schema
    pq.write_table(
        pa.Table.from_pandas(em, schema=schema, preserve_index=False),
        os.path.join(DST, "embeddings.parquet"),
    )
    n_null = int(em["embedding"].isna().sum())
    print(f"wrote embeddings: {len(em)} rows, {n_null} null vectors")


if __name__ == "__main__":
    main()
