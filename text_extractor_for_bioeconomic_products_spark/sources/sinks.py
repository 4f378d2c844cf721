"""Output sinks mirroring the reference's export surface (SURVEY §2.1).

S8 JSON envelope, S9 exploding CSV (explode_outer — a product with no
uses still emits one row, batch_process.py:162-171), S11 XML/HTML
presentation exports, S10 Excel (import-gated).  The bucket-partitioned
parquet output is written by ``plans/pipeline.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_spans_csv(spans: DataFrame, path: str) -> None:
    """S9 exploding CSV (export_manager.py:186-249): one row per
    (span, use); empty-uses spans kept via explode_outer.  Array columns
    are joined for CSV flatness, mirroring the reference's ';'-joined
    list cells (batch_process.py:166)."""
    (
        spans
        .withColumn("uso", F.explode_outer("tipos_uso"))
        .withColumn("paises_str", F.array_join("paises", ";"))
        .drop("tipos_uso", "paises")
        .orderBy("conv_id", "turn_idx", "span_seq")
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )


def write_spans_json(spans: DataFrame, path: str) -> None:
    """S8 JSON sink (export_manager.py:164-184): per-record JSON lines;
    the reference's export_info envelope becomes a _meta column on each
    line (envelope totals are derivable — no driver-side collect)."""
    (
        spans
        .withColumn(
            "_meta",
            F.struct(F.lit("product_spans").alias("export"), F.lit(1).alias("version")),
        )
        .write.mode("overwrite")
        .json(path)
    )


def write_spans_xml(spans: DataFrame, path: str, limit: int = 100000) -> None:
    """S11 XML sink (export_manager.py:323-402): a single presentation
    document mirroring the reference's <products><product>... structure.
    Presentation-scale by contract (the reference builds one in-memory
    ElementTree too) — rows beyond ``limit`` are cut and the truncation
    recorded on the root element, never silent."""
    import xml.etree.ElementTree as ET

    rows = spans.orderBy("conv_id", "turn_idx", "span_seq").limit(limit + 1).collect()
    truncated = len(rows) > limit
    rows = rows[:limit]
    root = ET.Element("products", {
        "count": str(len(rows)),
        "truncated": str(truncated).lower(),
    })
    for r in rows:
        p = ET.SubElement(root, "product")
        ET.SubElement(p, "conv_id").text = str(r["conv_id"])
        ET.SubElement(p, "turn_idx").text = str(r["turn_idx"])
        ET.SubElement(p, "nome_popular").text = r["nome_popular"]
        ET.SubElement(p, "nome_cientifico").text = r["nome_cientifico"] or ""
        paises = ET.SubElement(p, "paises")
        for c in r["paises"]:
            ET.SubElement(paises, "pais").text = c
        usos = ET.SubElement(p, "usos")
        for u in r["tipos_uso"]:
            ET.SubElement(usos, "uso").text = u
        ET.SubElement(p, "categoria").text = r["categoria"]
        ET.SubElement(p, "confianca").text = f'{r["confianca"]:.2f}'
    ET.ElementTree(root).write(path, encoding="unicode", xml_declaration=True)


def write_report_html(spans: DataFrame, path: str, top_n: int = 50) -> None:
    """S11 HTML report (export_manager.py:506-593): category histogram +
    top spans by confidence.  Aggregations run distributed; only the
    final small summary is collected."""
    import html as _html

    cats = spans.groupBy("categoria").count().orderBy(F.desc("count")).collect()
    top = (
        spans.orderBy(F.desc("confianca"), "conv_id", "turn_idx", "span_seq")
        .limit(top_n).collect()
    )
    total = sum(r["count"] for r in cats)
    parts = [
        "<!DOCTYPE html><html><head><meta charset='utf-8'>"
        "<title>Product spans report</title></head><body>",
        f"<h1>Product spans report</h1><p>Total spans: {total}</p>",
        "<h2>By category</h2><table border='1'><tr><th>categoria</th><th>n</th></tr>",
    ]
    for r in cats:
        parts.append(
            f"<tr><td>{_html.escape(str(r['categoria']))}</td><td>{r['count']}</td></tr>"
        )
    parts.append("</table><h2>Top spans</h2><table border='1'>"
                 "<tr><th>conv</th><th>turn</th><th>nome</th><th>conf</th></tr>")
    for r in top:
        parts.append(
            f"<tr><td>{_html.escape(str(r['conv_id']))}</td><td>{r['turn_idx']}</td>"
            f"<td>{_html.escape(r['nome_popular'])}</td><td>{r['confianca']:.2f}</td></tr>"
        )
    parts.append("</table></body></html>")
    with open(path, "w", encoding="utf-8") as f:
        f.write("".join(parts))


def write_products_excel(spans: DataFrame, path: str, limit: int = 100000) -> None:
    """S10 Excel multi-sheet sink (export_manager.py:251-321): a real
    3-sheet workbook (Products/Uses/Summary).  Prefers a full pandas
    Excel engine when one is importable; otherwise writes through the
    built-in minimal OOXML writer (`sources/xlsx.py` — stdlib zip+XML,
    values and structure only, which matches the reference's data-only
    export).  Presentation-scale by contract: rows beyond ``limit`` are
    cut (Excel itself caps sheets at ~1M rows)."""
    engine = None
    for candidate in ("openpyxl", "xlsxwriter"):
        try:
            __import__(candidate)
            engine = candidate
            break
        except ImportError:
            continue
    import pandas as pd
    pdf = spans.orderBy("conv_id", "turn_idx", "span_seq").limit(limit).toPandas()
    uses = pdf[["conv_id", "turn_idx", "span_seq", "tipos_uso"]].explode("tipos_uso")
    summary = pdf.groupby("categoria", as_index=False).size()
    if engine is not None:
        with pd.ExcelWriter(path, engine=engine) as xw:
            pdf.to_excel(xw, sheet_name="Products", index=False)
            uses.to_excel(xw, sheet_name="Uses", index=False)
            summary.to_excel(xw, sheet_name="Summary", index=False)
        return
    from .xlsx import write_xlsx

    def norm(v):
        # numpy scalar → python scalar, ndarray → list (so the writer's
        # int/float/list isinstance checks see builtin types); NaN → blank
        if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
            v = v.tolist()
        if isinstance(v, float) and v != v:
            return None
        return v

    def frame_sheet(df: "pd.DataFrame"):
        cols = [str(c) for c in df.columns]
        rows = [
            [norm(v) for v in rec]
            for rec in df.itertuples(index=False, name=None)
        ]
        return cols, rows

    write_xlsx(path, {
        "Products": frame_sheet(pdf),
        "Uses": frame_sheet(uses),
        "Summary": frame_sheet(summary),
    })
