"""Raster attribute tables as DataFrames.

Reference: gcore/gdal_rat.cpp (GDALDefaultRasterAttributeTable) and the
VAT.DBF sidecar reader gcore/gdal_rat_vat_dbf.cpp. A RAT is literally a
table — here it IS a (small, broadcast-sized) DataFrame carrying a
``_row`` record-order column plus per-column usage markers (the GFU_*
enum as lowercase strings). Implemented surface:

- RasterAttributeTable — df + usages + optional linear binning
  (SetLinearBinning; GetRowOfValue's binned path is
  floor((v - row0min)/binsize), out-of-range -> no row,
  gdal_rat.cpp GDALDefaultRasterAttributeTable::GetRowOfValue);
- from_vat_dbf — the sidecar reader with the reference's column-usage
  inference (gdal_rat_vat_dbf.cpp:50-108: VALUE -> minmax, COUNT ->
  pixelcount, CLASS*/NAME -> name, RED/GREEN/BLUE -> color bands,
  anything else generic), through the engine's own DBF codec
  (sources/shapefile.py);
- classify — GetRowOfValue applied to a whole pixel table: the RAT is
  row-bounded, so the min/max scan compiles to ONE Catalyst CASE chain
  in row order (exactly the reference's first-matching-row scan) plus
  a broadcast equi-join on ``_row`` for the attribute payload — no
  shuffle on the pixel side, no Python;
- from_histogram — populate a VALUE/COUNT (minmax/pixelcount) RAT from
  a value column (the SetDefaultRAT + histogram workflow).

Scale shape: pixels never leave Catalyst; the RAT is collected once
(row-bounded, the vocab-bounded collect pattern) to build the CASE
chain and broadcast for the payload join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..session import _local_frame

USAGES = ("generic", "pixelcount", "name", "min", "max", "minmax",
          "red", "green", "blue", "alpha")


class RasterAttributeTable:
    """df must carry a ``_row`` BIGINT record-order column; usages maps
    column name -> usage string (USAGES)."""

    def __init__(self, df: DataFrame, usages: dict,
                 row0min: float = None, binsize: float = None):
        if "_row" not in df.columns:
            raise ValueError("RAT DataFrame needs a _row order column")
        bad = {u for u in usages.values()} - set(USAGES)
        if bad:
            raise ValueError(f"unknown column usages {sorted(bad)}")
        self.df = df
        self.usages = dict(usages)
        self.row0min = row0min
        self.binsize = binsize

    def usage_col(self, usage: str):
        """First column with the given usage (GetColOfUsage); minmax
        serves as both min and max (AnalyseColumns semantics)."""
        for c in self.df.columns:
            if self.usages.get(c) == usage:
                return c
        if usage in ("min", "max"):
            for c in self.df.columns:
                if self.usages.get(c) == "minmax":
                    return c
        return None

    def row_of_value(self, value: float) -> int:
        """Driver-side GetRowOfValue (gdal_rat.cpp): linear binning
        first, else first row (record order) with min <= v <= max."""
        if self.binsize is not None:
            import math
            b = int(math.floor((value - self.row0min) / self.binsize))
            n = self.df.count()
            return b if 0 <= b < n else -1
        cmin, cmax = self.usage_col("min"), self.usage_col("max")
        if cmin is None and cmax is None:
            return -1
        for r in self.df.orderBy("_row").collect():
            if cmin is not None and value < r[cmin]:
                continue
            if cmax is not None and value > r[cmax]:
                continue
            return int(r["_row"])
        return -1


def from_vat_dbf(spark: SparkSession, path: str) -> RasterAttributeTable:
    """<raster>.vat.dbf sidecar -> RAT (gdal_rat_vat_dbf.cpp), read
    through the engine's dBASE codec. Record order is the row order."""
    from ..sources.shapefile import read_dbf

    recs = read_dbf(path)
    if not recs:
        raise ValueError(f"empty VAT.DBF {path}")
    names = list(recs[0].keys())
    usages = {}
    for n in names:
        u = n.upper()
        if u == "VALUE":
            usages[n] = "minmax"
        elif u == "COUNT":
            usages[n] = "pixelcount"
        elif u.startswith("CLASS") or u == "NAME":
            usages[n] = "name"
        elif u in ("RED", "GREEN", "BLUE"):
            usages[n] = u.lower()
        else:
            usages[n] = "generic"
    rows = [{"_row": i, **r} for i, r in enumerate(recs)]
    # the column types a list frame would infer, on a local relation
    df = _local_frame(spark, rows, spark._inferSchemaFromList(rows))
    return RasterAttributeTable(df, usages)


def classify(pixels: DataFrame, rat: RasterAttributeTable,
             value_col: str = "value", how: str = "left") -> DataFrame:
    """GetRowOfValue over a pixel table: adds ``_row`` plus the RAT's
    attribute columns to every pixel row. Linear-binned RATs classify
    with pure arithmetic; min/max RATs compile the reference's
    first-matching-row scan into one CASE chain (RAT row count is
    bounded). Unmatched pixels keep NULL _row (-1 in the reference)."""
    v = F.col(value_col)
    if rat.binsize is not None:
        n = rat.df.count()
        b = F.floor((v - F.lit(float(rat.row0min)))
                    / F.lit(float(rat.binsize)))
        row = F.when((b >= 0) & (b < n), b.cast("long"))
    else:
        cmin, cmax = rat.usage_col("min"), rat.usage_col("max")
        if cmin is None and cmax is None:
            raise ValueError("RAT has neither linear binning nor "
                             "min/max/minmax columns")
        row = None
        for r in rat.df.orderBy("_row").collect():   # row-bounded
            cond = F.lit(True)
            if cmin is not None:
                cond = cond & (v >= F.lit(r[cmin]))
            if cmax is not None:
                cond = cond & (v <= F.lit(r[cmax]))
            row = (F.when(cond, F.lit(int(r["_row"]))) if row is None
                   else row.when(cond, F.lit(int(r["_row"]))))
    px = pixels.withColumn("_row", row)
    return px.join(F.broadcast(rat.df), "_row", how)


def to_color_table(rat: RasterAttributeTable,
                   n_entries: int = -1) -> list:
    """GDALRasterAttributeTable::TranslateToColorTable (gdal_rat.cpp):
    needs red/green/blue usage columns; entry i takes the color of
    GetRowOfValue(i) ((0,0,0,0) when unmatched; alpha defaults 255
    without an alpha column); n_entries=-1 scans the max 'max'/'minmax'
    value + 1, capped at 65535. Returns [(r, g, b, a), ...]."""
    cr = rat.usage_col("red")
    cg = rat.usage_col("green")
    cb = rat.usage_col("blue")
    if cr is None or cg is None or cb is None:
        return None
    ca = rat.usage_col("alpha")
    rows = rat.df.orderBy("_row").collect()            # row-bounded
    if n_entries == -1:
        cmax = rat.usage_col("max")
        if cmax is None or not rows:
            return None
        n_entries = max(min(65535, int(r[cmax])) + 1 for r in rows)
        n_entries = min(65535, n_entries)
    cmin, cmax = rat.usage_col("min"), rat.usage_col("max")
    out = []
    for v in range(n_entries):
        hit = None
        if rat.binsize is not None:
            b = int((v - rat.row0min) // rat.binsize)
            hit = rows[b] if 0 <= b < len(rows) else None
        else:
            for r in rows:
                if cmin is not None and v < r[cmin]:
                    continue
                if cmax is not None and v > r[cmax]:
                    continue
                hit = r
                break
        if hit is None:
            out.append((0, 0, 0, 0))
        else:
            out.append((int(hit[cr]), int(hit[cg]), int(hit[cb]),
                        255 if ca is None else int(hit[ca])))
    return out


def from_color_table(spark: SparkSession,
                     entries: list) -> RasterAttributeTable:
    """InitializeFromColorTable (gdal_rat.cpp): Value(minmax)/Red/
    Green/Blue/Alpha columns, one row per entry, linear binning
    (0, 1)."""
    rows = [(i, i, int(e[0]), int(e[1]), int(e[2]),
             int(e[3]) if len(e) > 3 else 255)
            for i, e in enumerate(entries)]
    df = _local_frame(spark, rows, "_row long, Value long, Red long, "
                                   "Green long, Blue long, Alpha long")
    return RasterAttributeTable(
        df, {"Value": "minmax", "Red": "red", "Green": "green",
             "Blue": "blue", "Alpha": "alpha"},
        row0min=0.0, binsize=1.0)


def from_histogram(pixels: DataFrame, value_col: str = "value",
                   spark: SparkSession = None) -> RasterAttributeTable:
    """VALUE/COUNT RAT from a pixel table (ascending distinct values,
    one shuffle): VALUE gets minmax usage, COUNT pixelcount — the
    shape GetDefaultRAT-backed thematic rasters carry."""
    g = (pixels.groupBy(F.col(value_col).alias("VALUE"))
         .agg(F.count(F.lit(1)).alias("COUNT")))
    w = Window.orderBy("VALUE")
    df = g.select((F.row_number().over(w) - 1).cast("long").alias("_row"),
                  "VALUE", "COUNT")
    return RasterAttributeTable(df, {"VALUE": "minmax",
                                     "COUNT": "pixelcount"})
