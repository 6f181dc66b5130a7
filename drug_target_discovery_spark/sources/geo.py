"""GEO Series Matrix source (SURVEY §2.1 S1-S3, reference
pipeline2.py:170-474) as a distributed text-format parser.

Format (one file, three zones):
  ``!Key value...`` metadata lines (tab-separated, double-quoted values),
  a ``!series_matrix_table_begin`` .. ``!series_matrix_table_end`` data zone
  whose first row is ``"ID_REF" "GSM..." ...`` and whose remaining rows are
  ``probe_id <tab> float ...``.

Distributed-safety (SURVEY §7.4 hard part #4): row interpretation depends on
the header discovered mid-file, so parsing is two-pass —
pass 1 collects ONLY the ``!``-metadata + header lines (O(#samples), tiny);
pass 2 maps each data row to its probe id and one array of cell values, a
row-local split + cast with no shuffle. gzip is decoded transparently by
extension (``spark.read.text``), fixing the reference's gzip-unaware second
read (pipeline2.py:222).

Output is one row per probe, (probe_id, values ARRAY<DOUBLE>), the
reference's own wide matrix (pipeline2.py:471): every per-probe stage
downstream is a function of that row's vector. Sample ids stay on the
driver; ``sample_metadata.pos`` is each sample's index into ``values``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Keyword tiers of the reference's case/control classifier
# (pipeline2.py:266-293).
CANCER_KEYWORDS = ["cancer", "tumor", "tumour", "malignant", "carcinoma", "adenocarcinoma"]
BENIGN_KEYWORDS = ["normal", "benign", "healthy", "control", "non-tumor", "nontumor"]


def _strip_quotes(c):
    return F.regexp_replace(c, r'^["\']|["\']$', "")


def parse_geo_series_matrix(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Parse a GEO Series Matrix file -> (expression, sample_metadata).

    expression: (probe_id STRING, values ARRAY<DOUBLE>), one row per probe
      with one cell per data-header sample (short rows padded with NULL) —
      NULL for empty/NA cells; rows with any unparseable non-empty cell are
      dropped whole (the reference's skip-on-ValueError,
      pipeline2.py:464-468). Probe decorations are stripped: surrounding
      quotes, then a numeric ``NNN:`` prefix (pipeline2.py:450-456).
    sample_metadata: (sample_id, title, characteristics MAP<STRING,STRING>,
      pos INT, condition): ``pos`` is the sample's 0-based index into
      ``values``, NULL when the data header has no such sample; condition
      in ('case','control', NULL) via the tiered keyword cascade (tissue
      characteristic -> title -> all characteristics)."""
    lines = spark.read.text(path).select(F.col("value").alias("line"))

    # ---- pass 1: metadata + header (tiny, collected) -------------------
    # one scan pulls both the !-metadata lines AND the ID_REF header row so
    # the file is read once, not twice, on the driver pass
    pass1 = lines.filter(
        F.col("line").startswith("!")
        | (_strip_quotes(F.split("line", "\t").getItem(0)) == "ID_REF")
    ).collect()
    meta_rows = [r for r in pass1 if r["line"].startswith("!")]
    header_like = [r for r in pass1 if not r["line"].startswith("!")][:1]
    sample_ids: list[str] = []
    titles: list[str] = []
    characteristics: list[list[str]] = []  # one list per ch-line
    for r in meta_rows:
        line = r["line"]
        if "\t" not in line:
            continue
        key, *vals = line.split("\t")
        vals = [v.strip().strip('"').strip("'") for v in vals]
        lkey = key.lower()
        if lkey == "!sample_geo_accession":
            sample_ids = vals
        elif lkey == "!sample_title":
            titles = vals
        elif lkey.startswith("!sample_characteristics_ch"):
            characteristics.append(vals)

    if not sample_ids:
        raise ValueError(f"no !Sample_geo_accession line in {path}")

    # the data header (first row of the data zone, captured in pass 1)
    # names the value columns; when its width disagrees with the metadata
    # (J3) its own ids are trusted and samples are matched by id, else by
    # position
    header_cols = sample_ids
    if header_like:
        header_cols = [c.strip().strip('"') for c in header_like[0]["line"].split("\t")][1:]
        if len(header_cols) == len(sample_ids):
            header_cols = sample_ids
    pos_of: dict[str, int] = {}
    for i, h in enumerate(header_cols):
        pos_of.setdefault(h, i)

    meta_pdf = []
    for i, sid in enumerate(sample_ids):
        chars = {}
        for ch_line in characteristics:
            if i < len(ch_line) and ch_line[i]:
                v = ch_line[i]
                if ":" in v:
                    label, val = v.split(":", 1)
                    chars[label.strip().lower()] = val.strip()
                else:
                    chars[v.strip().lower()] = ""
        meta_pdf.append(
            (sid, titles[i] if i < len(titles) else None, chars, pos_of.get(sid))
        )
    meta = spark.createDataFrame(
        meta_pdf,
        "sample_id STRING, title STRING, characteristics MAP<STRING,STRING>, pos INT",
    )
    meta = classify_condition(meta)

    # ---- pass 2: distributed data rows ---------------------------------
    n_cols = len(header_cols)
    rows = lines.filter(
        ~F.col("line").startswith("!")
        & ~F.col("line").rlike(r'^\s*$')
        & ~F.col("line").startswith("#")
        & (_strip_quotes(F.split("line", "\t").getItem(0)) != "ID_REF")
    )
    parts = F.split("line", "\t")
    probe = _strip_quotes(parts.getItem(0))
    # strip "NNN:" / "NNN-" decoration prefixes (pipeline2.py:450-453)
    probe = F.regexp_replace(probe, r"^\d+[:-]", "")
    probe = _strip_quotes(probe)

    vals = F.slice(parts, 2, n_cols)
    # a short row's missing trailing cells are empty, so NA, as in the
    # reference's DataFrame of ragged rows
    vals = F.concat(vals, F.array_repeat(F.lit(""), F.lit(n_cols) - F.size(vals)))
    cleaned = F.transform(vals, lambda v: _strip_quotes(F.trim(v)))
    # try_cast, not cast: ANSI mode (Spark 4 default) would otherwise throw
    # inside fused filter predicates before row pruning applies — and NULL-on-
    # malformed is exactly the reference's skip-row detection signal anyway
    casted = F.transform(
        cleaned,
        lambda v: F.when(
            (v == "") | (F.upper(v).isin("NA", "NAN", "NULL")), F.lit(None).cast("double")
        ).otherwise(v.try_cast("double")),
    )
    # reference semantics: any non-missing cell failing float() drops the row
    bad = F.exists(
        F.zip_with(
            cleaned,
            casted,
            lambda raw, c: (raw != "")
            & ~F.upper(raw).isin("NA", "NAN", "NULL")
            & c.isNull(),
        ),
        lambda x: x,
    )
    expr = rows.select(probe.alias("probe_id"), casted.alias("values")).filter(~bad)
    return expr, meta


def classify_condition(meta: DataFrame) -> DataFrame:
    """Tiered case/control classifier (P1, pipeline2.py:266-293):
    tier 1 the 'tissue' characteristic, tier 2 the sample title, tier 3 all
    characteristics concatenated; first tier with a keyword hit wins."""
    cancer_re = "|".join(CANCER_KEYWORDS)
    benign_re = "|".join(BENIGN_KEYWORDS)

    def tier(col):
        low = F.lower(col)
        return (
            F.when(low.rlike(cancer_re), "case")
            .when(low.rlike(benign_re), "control")
            .otherwise(F.lit(None).cast("string"))
        )

    tissue = F.element_at("characteristics", F.lit("tissue"))
    all_chars = F.concat_ws(
        " ", F.map_keys("characteristics"), F.map_values("characteristics")
    )
    return meta.withColumn(
        "condition",
        F.coalesce(
            tier(F.coalesce(tissue, F.lit(""))),
            tier(F.coalesce(F.col("title"), F.lit(""))),
            tier(all_chars),
        ),
    )


def valid_gene_symbol(col):
    """Gene-symbol validity predicate (P8, pipeline2.py:794-827) as a pure
    column expression: 1-20 chars, not probe-like (`_at`), not the UNKNOWN_
    sentinel, contains a letter, alphanumeric plus `-.` only."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return (
        c.isNotNull()
        & (F.length(c) >= 1)
        & (F.length(c) <= 20)
        & ~F.lower(c).contains("_at")
        & ~c.startswith("UNKNOWN_")
        & c.rlike("[A-Za-z]")
        & c.rlike("^[A-Za-z0-9.-]+$")
    )


def read_probe_mapping_csv(spark: SparkSession, path: str) -> DataFrame:
    """Probe->gene mapping dim (S4, pipeline2.py:98-119): CSV with header
    (PROBEID, SYMBOL), empty symbols dropped. ~54K rows — a broadcast dim;
    the R-subprocess boundary of the reference becomes a static table."""
    df = spark.read.csv(path, header=True)
    cols = {c.lower(): c for c in df.columns}
    probe_col, sym_col = cols.get("probeid", df.columns[0]), cols.get("symbol", df.columns[1])
    return (
        df.select(
            F.col(probe_col).alias("probe_id"),
            F.trim(F.col(sym_col)).alias("gene_symbol"),
        )
        .filter(F.col("gene_symbol").isNotNull() & (F.col("gene_symbol") != ""))
    )
