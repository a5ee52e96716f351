"""Sources (reference S1-S6, SURVEY §2.1).

The reference reads header-inferring CSVs, Excel exports, sectioned
Illumina "FinalReport" text dumps, multi-file sample tables with junk
preambles, and IDAT binaries (via the SeSAMe R library). The engine's
internal currency is Parquet; these readers are the ingest boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

# Header keywords used to detect the sample-table header line
# (reference: preprocessing/data_parsing.py:38-59).
SAMPLE_HEADER_KEYWORDS = {
    "Index", "Sample ID", "Sentrix Barcode", "Sample Section", "Beadchip",
    "Position", "EPIC.Run", "Experiment", "Genotype", "Tissue.Cell.type",
}


def read_beta_csv(spark: SparkSession, path: str, header: bool = True) -> DataFrame:
    """Header-inferring CSV scan (reference S1: filter.py:9, main.py:137).

    Schema inference costs an extra pass — acceptable at the ingest
    boundary only; downstream everything is typed Parquet.
    """
    return spark.read.csv(path, header=header, inferSchema=True)


def read_any(spark: SparkSession, path: str) -> DataFrame:
    """Extension-dispatched reader (reference S2: filter.py:7-13 reads
    .xls/.xlsx/.csv interchangeably).

    Excel has no distributed Spark source; files of that shape are
    driver-sized in the reference (~hundreds of columns × ~3e5 rows), so
    a driver-side pandas read feeding the Arrow createDataFrame path is
    the honest mapping. Everything else goes through native sources.
    """
    ext = os.path.splitext(path)[1].lower()
    if ext in (".xls", ".xlsx"):
        import pandas as pd

        try:
            pdf = pd.read_excel(path)
        except ImportError:
            if ext == ".xls":  # legacy BIFF needs xlrd; no native fallback
                raise
            from methyl_data_pipeline_spark.io.xlsx import read_xlsx

            pdf = read_xlsx(path)
        return spark.createDataFrame(pdf)
    if ext == ".parquet":
        return spark.read.parquet(path)
    if ext in (".csv", ".txt"):
        return spark.read.csv(path, header=True, inferSchema=True)
    if ext in (".jsonl", ".json"):
        return read_jsonl(spark, path)
    if ext == ".orc":
        return spark.read.orc(path)
    raise ValueError(f"unsupported extension: {ext}")


def read_final_report(
    spark: SparkSession, path: str, marker: str = "[Sample Methylation Profile]"
) -> DataFrame:
    """Sectioned Illumina FinalReport parser (reference S3:
    preprocessing/data_parsing.py:7-33).

    Fully distributed: read as text with line numbers, locate the marker
    row, take the next line as the tab-separated header, parse the rest.
    The marker scan is a cheap aggregate over the (single) file; no
    driver-side line loop.
    """
    lines = (
        spark.read.text(path)
        .rdd.zipWithIndex()
        .map(lambda r: (r[1], r[0].value))
        .toDF(["line_no", "value"])
    )
    marker_row = lines.filter(F.col("value").startswith(marker)).agg(
        F.min("line_no").alias("m")
    ).collect()[0]["m"]
    if marker_row is None:
        raise ValueError(f"marker {marker!r} not found in {path}")

    header_line = lines.filter(F.col("line_no") == marker_row + 1).collect()[0]["value"]
    cols = header_line.split("\t")
    data = lines.filter(F.col("line_no") > marker_row + 1)
    split = data.select(F.split("value", "\t").alias("f"))
    return split.select(*[F.col("f")[i].alias(c) for i, c in enumerate(cols)])


def read_sample_tables(
    spark: SparkSession, paths: list[str], run_numbers: list[str] | None = None
) -> DataFrame:
    """Multi-file sample-table parse (reference S4:
    preprocessing/data_parsing.py:35-95): per file, find the header line
    by keyword membership, parse rows, prefix ``Index`` with the run
    number, concatenate.

    Files are driver-enumerated (they are a handful of vendor exports)
    but each file parses distributed; output is one DataFrame.
    """
    if run_numbers is None:
        run_numbers = [str(i + 1) for i in range(len(paths))]
    if len(run_numbers) != len(paths):
        raise ValueError(
            f"run_numbers has {len(run_numbers)} entries for {len(paths)} "
            "paths — a short list would silently drop trailing files"
        )
    outs: list[DataFrame] = []
    for path, run in zip(paths, run_numbers):
        lines = (
            spark.read.text(path)
            .rdd.zipWithIndex()
            .map(lambda r: (r[1], r[0].value))
            .toDF(["line_no", "value"])
        )
        header = (
            lines.filter(
                " OR ".join(f"value LIKE '%{k}%'" for k in SAMPLE_HEADER_KEYWORDS)
            )
            .agg(F.min("line_no").alias("m"))
            .collect()[0]["m"]
        )
        if header is None:
            raise ValueError(f"no header line found in {path}")
        header_line = lines.filter(F.col("line_no") == header).collect()[0]["value"]
        cols = [c.strip() for c in header_line.split("\t")]
        rows = lines.filter(F.col("line_no") > header)
        split = rows.select(F.split("value", "\t").alias("f"))
        df = split.select(*[F.col("f")[i].alias(c) for i, c in enumerate(cols)])
        if "Index" in cols:
            df = df.withColumn("Index", F.concat_ws("_", F.lit(run), F.col("Index")))
        outs.append(df.withColumn("run", F.lit(run)))
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), outs)


def read_idat_dir(spark: SparkSession, path: str) -> DataFrame:
    """IDAT binary discovery (reference S5/S6: idat.r:37-40,
    health_check.py:41-106): recursive glob of ``*_Red.idat`` /
    ``*_Grn.idat`` pairs as binary rows with basename + channel.

    Decoding is the real pure-Python parser in ``io.idat`` (published
    illuminaio layout) applied via ``mapInPandas`` — see
    ``io.idat.decode_idat``.
    """
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.idat")
        .option("recursiveFileLookup", "true")
        .load(path)
    )
    return files.select(
        F.regexp_replace(
            F.regexp_extract(F.col("path"), r"([^/]+)\.idat$", 1), r"_(Red|Grn)$", ""
        ).alias("basename"),
        F.regexp_extract(F.col("path"), r"_(Red|Grn)\.idat$", 1).alias("channel"),
        F.col("length"),
        F.col("content"),
    )


def decode_idat(df: DataFrame) -> DataFrame:
    """IDAT binary -> (probe address, mean intensity) rows — real
    decoder; see ``io.idat`` for the format notes."""
    from methyl_data_pipeline_spark.io.idat import decode_idat as _decode

    return _decode(df)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    multiline: bool = False,
) -> DataFrame:
    """JSON-lines source — the interchange format of LLM corpus tooling
    (one document object per line; engine-native extension, no
    reference twin). Pass an explicit DDL ``schema`` in production:
    schema inference scans the data once more and silently widens
    types. ``multiline=True`` switches to whole-file JSON arrays
    (NOT splittable — one task per file; keep jsonl for scale)."""
    r = spark.read
    if schema:
        r = r.schema(schema)
    return r.option("multiLine", multiline).json(path)


def stage_idat_tree(
    source_dir: str,
    staging_dir: str,
    extract_zips: bool = True,
) -> list[str]:
    """Driver-side ingest staging — the S6 utility half of the
    reference's IDAT discovery (``health_check.py:41-106`` semantics):
    extract every ``.zip`` under ``source_dir`` into a sibling folder
    named after the archive, then copy every ``.idat`` in the tree into
    flat ``staging_dir`` with collision-safe ``_{n}`` suffixes.
    Returns the staged file paths (sorted, deterministic).

    Deliberately NOT distributed: archives and staging are a
    pre-ingest, driver/cluster-edge concern; the distributed path
    starts at :func:`read_idat_dir` over the staged directory (Spark
    path globs + binary source). Unlike the reference, bad archives
    raise instead of printing-and-continuing — silent skips upstream
    of QC are how samples go missing.
    """
    import re
    import shutil
    import zipfile

    if not os.path.isdir(source_dir):
        raise FileNotFoundError(f"source directory does not exist: {source_dir}")
    if extract_zips:
        for root, _dirs, files in os.walk(source_dir):
            for fn in files:
                if fn.lower().endswith(".zip"):
                    zip_path = os.path.join(root, fn)
                    dest = os.path.join(root, os.path.splitext(fn)[0])
                    os.makedirs(dest, exist_ok=True)
                    with zipfile.ZipFile(zip_path) as zf:
                        zf.extractall(dest)

    os.makedirs(staging_dir, exist_ok=True)
    staged: list[str] = []
    chan_re = re.compile(r"_(Red|Grn)$")
    for root, _dirs, files in os.walk(source_dir):
        for fn in sorted(files):
            if not fn.lower().endswith(".idat"):
                continue
            base, _ext = os.path.splitext(fn)
            # normalize the extension to lowercase so the reader's
            # '*.idat' glob (case-sensitive) sees every staged file —
            # vendor archives ship .IDAT too, and a staged-but-unread
            # file is exactly the silent sample loss this staging
            # exists to prevent
            ext = ".idat"
            # collision suffix goes BEFORE the _Grn/_Red channel
            # suffix: read_idat_dir derives (basename, channel) from
            # '..._{Red|Grn}.idat', so 'S1_Grn_1.idat' would parse as
            # channel-less basename 'S1_Grn_1' and silently unpair the
            # sample; 'S1_1_Grn.idat' keeps the contract intact.
            m = chan_re.search(base)
            stem, chan = (base[: m.start()], m.group(0)) if m else (base, "")
            dest_path = os.path.join(staging_dir, f"{stem}{chan}{ext}")
            counter = 1
            while os.path.exists(dest_path):
                dest_path = os.path.join(
                    staging_dir, f"{stem}_{counter}{chan}{ext}"
                )
                counter += 1
            shutil.copy2(os.path.join(root, fn), dest_path)
            staged.append(dest_path)
    return sorted(staged)
