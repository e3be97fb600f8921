"""Report sinks (SURVEY S10-S12 analogs).

The reference renders evaluation JSON, cumulative-bin text tables
(`evaluators/stats.py:28-50` + tabulate), matplotlib histogram PNGs,
and GT-vs-pred comparison HTML (`visualisation/visualisations.py`).
Aggregates here are tiny (≤ dozens of rows), so rendering is
driver-side after collect(); matplotlib/tabulate are not in this
container, so the table renderer is self-contained github-markdown
text (same shape as the reference's `to_table`) and the histogram is
an SVG writer (no binary deps). Comparison HTML is produced from a
sampled sub-DataFrame — debug path, bounded rows.
"""

from __future__ import annotations

import html as _html
import json
from pathlib import Path
from typing import Any, NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from docling_eval_spark.evaluators.stats import N_BINS


def stats_to_table_text(stats_row: dict[str, Any], metric_name: str) -> str:
    """Reference ``DatasetStatistics.to_table`` rendering: one row per
    bin: range, prob%, cumulative acc%, 1-acc%, count."""
    headers = [metric_name, "prob [%]", "acc [%]", "1-acc [%]", "total"]
    total = stats_row["total"] or 1
    hist = stats_row["hist"]
    bins = stats_row["bins"]
    lines = ["| " + " | ".join(headers) + " |",
             "|" + "|".join(["---"] * len(headers)) + "|"]
    cumsum = 0.0
    for i in range(len(bins) - 1):
        lines.append(
            f"| ({bins[i]:.3f}, {bins[i+1]:.3f}] "
            f"| {100.0 * hist[i] / total:.2f} "
            f"| {100.0 * cumsum:.2f} "
            f"| {100.0 * (1.0 - cumsum):.2f} "
            f"| {hist[i]} |"
        )
        cumsum += hist[i] / total
    return "\n".join(lines)


def histogram_svg(stats_row: dict[str, Any], title: str = "") -> str:
    """Histogram as standalone SVG (stand-in for the reference's
    matplotlib PNG, `stats.py:52-73`)."""
    hist = stats_row["hist"]
    w, h, pad = 640, 320, 40
    peak = max(hist) or 1
    bar_w = (w - 2 * pad) / N_BINS
    bars = []
    for i, c in enumerate(hist):
        bh = (h - 2 * pad) * c / peak
        bars.append(
            f'<rect x="{pad + i * bar_w:.1f}" y="{h - pad - bh:.1f}" '
            f'width="{bar_w - 1:.1f}" height="{bh:.1f}" fill="#4878a8"/>'
        )
    label = (
        f"{title} (mean {stats_row['mean']:.2f}, median {stats_row['median']:.2f}, "
        f"std {stats_row['std']:.2f}, total {stats_row['total']})"
    )
    return (
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{w}" height="{h}">'
        f'<text x="{pad}" y="20" font-size="13">{_html.escape(label)}</text>'
        + "".join(bars)
        + f'<line x1="{pad}" y1="{h-pad}" x2="{w-pad}" y2="{h-pad}" stroke="#000"/>'
        "</svg>"
    )


# 5x7 bitmap font (classic LCD-style glyph shapes, public domain
# folklore) for rasterized plot labels — each glyph is 7 rows of 5
# bits, MSB = leftmost column. Subset: what metric labels use.
_FONT_5X7: dict[str, tuple[int, ...]] = {
    " ": (0, 0, 0, 0, 0, 0, 0),
    "0": (0x0E, 0x11, 0x13, 0x15, 0x19, 0x11, 0x0E),
    "1": (0x04, 0x0C, 0x04, 0x04, 0x04, 0x04, 0x0E),
    "2": (0x0E, 0x11, 0x01, 0x02, 0x04, 0x08, 0x1F),
    "3": (0x1F, 0x02, 0x04, 0x02, 0x01, 0x11, 0x0E),
    "4": (0x02, 0x06, 0x0A, 0x12, 0x1F, 0x02, 0x02),
    "5": (0x1F, 0x10, 0x1E, 0x01, 0x01, 0x11, 0x0E),
    "6": (0x06, 0x08, 0x10, 0x1E, 0x11, 0x11, 0x0E),
    "7": (0x1F, 0x01, 0x02, 0x04, 0x08, 0x08, 0x08),
    "8": (0x0E, 0x11, 0x11, 0x0E, 0x11, 0x11, 0x0E),
    "9": (0x0E, 0x11, 0x11, 0x0F, 0x01, 0x02, 0x0C),
    "a": (0x00, 0x00, 0x0E, 0x01, 0x0F, 0x11, 0x0F),
    "b": (0x10, 0x10, 0x16, 0x19, 0x11, 0x11, 0x1E),
    "c": (0x00, 0x00, 0x0E, 0x10, 0x10, 0x11, 0x0E),
    "d": (0x01, 0x01, 0x0D, 0x13, 0x11, 0x11, 0x0F),
    "e": (0x00, 0x00, 0x0E, 0x11, 0x1F, 0x10, 0x0E),
    "f": (0x06, 0x09, 0x08, 0x1C, 0x08, 0x08, 0x08),
    "g": (0x00, 0x0F, 0x11, 0x11, 0x0F, 0x01, 0x0E),
    "h": (0x10, 0x10, 0x16, 0x19, 0x11, 0x11, 0x11),
    "i": (0x04, 0x00, 0x0C, 0x04, 0x04, 0x04, 0x0E),
    "j": (0x02, 0x00, 0x06, 0x02, 0x02, 0x12, 0x0C),
    "k": (0x10, 0x10, 0x12, 0x14, 0x18, 0x14, 0x12),
    "l": (0x0C, 0x04, 0x04, 0x04, 0x04, 0x04, 0x0E),
    "m": (0x00, 0x00, 0x1A, 0x15, 0x15, 0x11, 0x11),
    "n": (0x00, 0x00, 0x16, 0x19, 0x11, 0x11, 0x11),
    "o": (0x00, 0x00, 0x0E, 0x11, 0x11, 0x11, 0x0E),
    "p": (0x00, 0x00, 0x1E, 0x11, 0x1E, 0x10, 0x10),
    "q": (0x00, 0x00, 0x0D, 0x13, 0x0F, 0x01, 0x01),
    "r": (0x00, 0x00, 0x16, 0x19, 0x10, 0x10, 0x10),
    "s": (0x00, 0x00, 0x0E, 0x10, 0x0E, 0x01, 0x1E),
    "t": (0x08, 0x08, 0x1C, 0x08, 0x08, 0x09, 0x06),
    "u": (0x00, 0x00, 0x11, 0x11, 0x11, 0x13, 0x0D),
    "v": (0x00, 0x00, 0x11, 0x11, 0x11, 0x0A, 0x04),
    "w": (0x00, 0x00, 0x11, 0x11, 0x15, 0x15, 0x0A),
    "x": (0x00, 0x00, 0x11, 0x0A, 0x04, 0x0A, 0x11),
    "y": (0x00, 0x00, 0x11, 0x11, 0x0F, 0x01, 0x0E),
    "z": (0x00, 0x00, 0x1F, 0x02, 0x04, 0x08, 0x1F),
    "_": (0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x1F),
    "-": (0x00, 0x00, 0x00, 0x1F, 0x00, 0x00, 0x00),
    ".": (0x00, 0x00, 0x00, 0x00, 0x00, 0x0C, 0x0C),
    ",": (0x00, 0x00, 0x00, 0x00, 0x0C, 0x04, 0x08),
    ":": (0x00, 0x0C, 0x0C, 0x00, 0x0C, 0x0C, 0x00),
    "(": (0x02, 0x04, 0x08, 0x08, 0x08, 0x04, 0x02),
    ")": (0x08, 0x04, 0x02, 0x02, 0x02, 0x04, 0x08),
    "%": (0x18, 0x19, 0x02, 0x04, 0x08, 0x13, 0x03),
}


def _raster_text(img, x: int, y: int, text: str, rgb=(0, 0, 0)) -> None:
    """Blit ``text`` into an (H, W, 3) uint8 array at (x, y) using the
    5x7 font (unknown glyphs render as the '-' placeholder)."""
    h, w = img.shape[:2]
    for ch in text.lower():
        rows = _FONT_5X7.get(ch, _FONT_5X7["-"])
        for ry, bits in enumerate(rows):
            for rx in range(5):
                if bits & (1 << (4 - rx)):
                    px, py = x + rx, y + ry
                    if 0 <= px < w and 0 <= py < h:
                        img[py, px] = rgb
        x += 6


def histogram_png(stats_row: dict[str, Any], title: str = "") -> bytes:
    """Histogram as a standalone raster PNG — the reference's
    matplotlib figure (`evaluators/stats.py:52-73`: bar chart +
    mean/median/std/total title) rasterized with numpy and encoded by
    the in-repo PNG encoder; no plotting library in the container, so
    bars, axis and the 5x7-font title are drawn directly."""
    import numpy as np

    from docling_eval_spark.operators.png_codec import png_encode

    hist = stats_row["hist"]
    w, h, pad = 640, 320, 40
    img = np.full((h, w, 3), 255, dtype=np.uint8)
    peak = max(hist) or 1
    bar_w = (w - 2 * pad) / max(len(hist), 1)
    for i, c in enumerate(hist):
        bh = int(round((h - 2 * pad) * c / peak))
        if bh <= 0:
            continue
        x0 = int(round(pad + i * bar_w))
        x1 = int(round(pad + (i + 1) * bar_w)) - 1
        y0, y1 = h - pad - bh, h - pad
        img[y0:y1, x0:x1] = (72, 120, 168)  # fill (matches the SVG)
        img[y0:y1, x0] = 0  # black edges, as plt.bar(edgecolor=black)
        img[y0:y1, x1 - 1] = 0
        img[y0, x0:x1] = 0
    img[h - pad, pad : w - pad] = 0  # x axis
    img[pad : h - pad + 1, pad - 1] = 0  # y axis
    label = (
        f"{title} (mean: {stats_row['mean']:.2f}, median: "
        f"{stats_row['median']:.2f}, std: {stats_row['std']:.2f}, "
        f"total: {stats_row['total']})"
    )
    _raster_text(img, pad, 12, label)
    _raster_text(img, w // 2 - 15, h - 14, "score")
    return png_encode(img)


def render_metric_report(
    row: dict[str, Any], out_dir: str, metric_name: str
) -> dict[str, Any]:
    """Write one stats row (an ``evaluators.stats.collect_stats`` row)
    as {name}.json + {name}.md + {name}.svg + {name}.png — the
    reference's evaluate/visualize sink pair (`cli/main.py:252-310` +
    `70-112`; the .png matches the reference's matplotlib figure format
    via the in-repo rasterizer). No Spark job runs."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    (out / f"{metric_name}.json").write_text(json.dumps(row))
    (out / f"{metric_name}.md").write_text(stats_to_table_text(row, metric_name))
    (out / f"{metric_name}.svg").write_text(histogram_svg(row, metric_name))
    (out / f"{metric_name}.png").write_bytes(histogram_png(row, metric_name))
    return row


def save_comparison_html(
    df: DataFrame,
    out_path: str,
    gt_col: str = "text",
    pred_col: str = "extracted_text",
    key_col: str = "url",
    max_rows: int = 50,
) -> int:
    """GT-vs-pred side-by-side HTML for a bounded sample
    (`visualisations.py:21-67` analog; deterministic sample = first
    max_rows by key)."""
    rows = (
        df.select(key_col, gt_col, pred_col)
        .orderBy(key_col)
        .limit(max_rows)
        .collect()
    )
    cells = []
    for r in rows:
        match = r[gt_col] == r[pred_col]
        color = "#e8ffe8" if match else "#ffe8e8"
        cells.append(
            f'<tr style="background:{color}"><td>{_html.escape(str(r[key_col]))}</td>'
            f"<td><pre>{_html.escape(str(r[gt_col]))}</pre></td>"
            f"<td><pre>{_html.escape(str(r[pred_col]))}</pre></td></tr>"
        )
    doc = (
        "<html><head><meta charset='utf-8'><style>"
        "table{border-collapse:collapse;width:100%}td{border:1px solid #ccc;"
        "vertical-align:top;padding:4px;width:45%}td:first-child{width:10%}"
        "</style></head><body><table>"
        "<tr><th>key</th><th>ground truth</th><th>prediction</th></tr>"
        + "".join(cells)
        + "</table></body></html>"
    )
    Path(out_path).parent.mkdir(parents=True, exist_ok=True)
    Path(out_path).write_text(doc)
    return len(rows)


def per_class_ap_report(ap_table: DataFrame, out_path: str) -> str:
    """Per-class AP markdown table, sorted descending — the reference's
    per-class report (`layout_evaluator.py:68-71,240-241`, e.g.
    `docs/evaluations/DPBench/..._layout_mAP_0.5_0.95.txt`). Input is
    the (label, iou_thr, ap) table from evaluators.layout.corpus_ap_table;
    ≤ #classes × 10 rows, rendered driver-side."""
    # ONE collect of the tiny (label, thr, ap) table; both the
    # thresholds-mean and the AP@0.50 column derive driver-side (two
    # collects would execute the whole corpus-AP pipeline twice)
    rows = ap_table.collect()
    by_label: dict[str, list] = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(r)
    means = {
        lbl: sum(r["ap"] for r in rs) / len(rs) for lbl, rs in by_label.items()
    }
    ap50 = {
        lbl: next((r["ap"] for r in rs if r["iou_thr"] == 0.5), 0.0)
        for lbl, rs in by_label.items()
    }
    lines = [
        "| label | AP[0.50:0.95] | AP@0.50 |",
        "|---|---|---|",
    ]
    for lbl in sorted(means, key=lambda x: (-means[x], x)):
        lines.append(f"| {lbl} | {means[lbl]:.4f} | {ap50[lbl]:.4f} |")
    text = "\n".join(lines)
    p = Path(out_path)
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(text)
    return text


_OVERLAY_CSS = (
    "<style>body{font-family:sans-serif}svg{border:1px solid #999;margin:4px}"
    ".gt{fill:#4878a8;fill-opacity:0.15;stroke:#4878a8;stroke-width:1}"
    ".pred{fill:none;stroke:#c83232;stroke-width:1.5;stroke-dasharray:4 2}"
    "text{font-size:7px;fill:#333}</style>"
)


class LayoutSample(NamedTuple):
    """Documents the layout HTML reports draw, collected once: the
    first ``max_docs`` rows with GT boxes, ordered by key."""

    rows: list
    gt_col: str
    pred_col: str
    pages_col: str
    key_col: str
    has_pages: bool

    def pages(self):
        """Per document: ``(row, gt boxes, pred boxes, [(page_no,
        gt boxes on it, pred boxes on it, (width, height) or None)])``."""
        for r in self.rows:
            gt = [x.asDict() for x in (r[self.gt_col] or [])]
            pred = [x.asDict() for x in (r[self.pred_col] or [])]
            page_dims: dict[int, tuple[float, float]] = {}
            if self.has_pages and r[self.pages_col]:
                for p in r[self.pages_col]:
                    page_dims[p["page_no"]] = (float(p["width"]), float(p["height"]))
            pages = sorted({b.get("page_no") or 1 for b in gt + pred} | set(page_dims))
            yield r, gt, pred, [
                (
                    pg,
                    [b for b in gt if (b.get("page_no") or 1) == pg],
                    [b for b in pred if (b.get("page_no") or 1) == pg],
                    page_dims.get(pg),
                )
                for pg in pages
            ]


def layout_sample(
    ds: DataFrame,
    gt_col: str = "layout",
    pred_col: str | None = None,
    pages_col: str = "pages",
    key_col: str = "url",
    max_docs: int = 12,
) -> LayoutSample:
    """The bounded driver-side sample of ``ds`` that the layout HTML
    reports draw (ONE collect of ≤ ``max_docs`` rows); ``pred_col``
    defaults to pred_layout when ``ds`` has it, else ``gt_col``."""
    pred_col = pred_col or ("pred_layout" if "pred_layout" in ds.columns else gt_col)
    cols = [key_col, gt_col, pred_col]
    has_pages = pages_col in ds.columns
    if has_pages:
        cols.append(pages_col)
    rows = (
        ds.filter(F.size(gt_col) > 0)
        .select(*cols)
        .orderBy(key_col)
        .limit(max_docs)
        .collect()
    )
    return LayoutSample(rows, gt_col, pred_col, pages_col, key_col, has_pages)


def _page_extent(gt_p: list[dict], pr_p: list[dict], dims) -> tuple[float, float]:
    """A page's (width, height): its recorded size, else the content
    extents + margin."""
    if dims is not None:
        return dims
    ext = gt_p + pr_p
    return (
        max((b["r"] for b in ext), default=1.0) + 10,
        max((b["b"] for b in ext), default=1.0) + 10,
    )


def _write_html(out_path: str, doc: str) -> None:
    p = Path(out_path)
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(doc)


def save_overlay_html(
    ds: DataFrame,
    out_path: str,
    gt_col: str = "layout",
    pred_col: str | None = None,
    pages_col: str = "pages",
    key_col: str = "url",
    max_docs: int = 12,
    view_w: float = 400.0,
) -> int:
    """GT-vs-pred layout-box overlays as inline SVG, one panel per page
    (the reference's cluster-overlay / inspection HTML,
    `visualisation/visualisations.py:237-366,369-399` — drawn over the
    MiniPDF page geometry instead of rendered page images, since no
    raster codecs exist in this container). GT boxes: translucent blue;
    predictions: dashed red. Bounded driver-side sample."""
    sample = layout_sample(ds, gt_col, pred_col, pages_col, key_col, max_docs)
    return render_overlay_html(sample, out_path, view_w)


def render_overlay_html(sample: LayoutSample, out_path: str, view_w: float = 400.0) -> int:
    """``save_overlay_html`` of an already-collected sample."""
    sections = []
    for r, gt, pred, pages in sample.pages():
        panels = []
        for _pg, gt_p, pr_p, dims in pages:
            pw, ph = _page_extent(gt_p, pr_p, dims)
            s = view_w / max(pw, 1e-9)
            shapes = []
            for b in gt_p:
                shapes.append(
                    f'<rect class="gt" x="{b["l"]*s:.1f}" y="{b["t"]*s:.1f}" '
                    f'width="{(b["r"]-b["l"])*s:.1f}" height="{(b["b"]-b["t"])*s:.1f}"/>'
                    f'<text x="{b["l"]*s+1:.1f}" y="{b["t"]*s+7:.1f}">'
                    f"{_html.escape(str(b.get('label') or ''))}</text>"
                )
            for b in pr_p:
                shapes.append(
                    f'<rect class="pred" x="{b["l"]*s:.1f}" y="{b["t"]*s:.1f}" '
                    f'width="{(b["r"]-b["l"])*s:.1f}" height="{(b["b"]-b["t"])*s:.1f}"/>'
                )
            panels.append(
                f'<svg width="{view_w:.0f}" height="{ph*s:.0f}">' + "".join(shapes) + "</svg>"
            )
        sections.append(
            f"<h3>{_html.escape(str(r[sample.key_col]))}</h3>"
            f"<p>{len(gt)} GT boxes (blue), {len(pred)} predicted (dashed red)</p>"
            + "".join(panels)
        )
    _write_html(
        out_path,
        "<html><head><meta charset='utf-8'>" + _OVERLAY_CSS + "</head><body>"
        "<h2>Layout overlay: ground truth vs prediction</h2>"
        + "".join(sections)
        + "</body></html>",
    )
    return len(sample.rows)


def render_page_image(
    gt_boxes: list[dict],
    pred_boxes: list[dict],
    page_w: float,
    page_h: float,
    view_w: int = 400,
) -> bytes:
    """Rasterize one page's GT/pred layout geometry to REAL PNG bytes
    (white page, alpha-blended blue GT fills with solid borders, red
    2-px prediction borders) via the in-repo encoder — the rendered
    page image the reference embeds in its inspection HTML
    (`visualisation/visualisations.py:369-399`, which rasterizes via
    PIL; here the page render is the MiniPDF geometry itself)."""
    import numpy as np

    from docling_eval_spark.operators.png_codec import png_encode

    s = view_w / max(page_w, 1e-9)
    h = max(int(round(page_h * s)), 1)
    img = np.full((h, view_w, 3), 255, dtype=np.uint8)

    def clip_box(b):
        l = max(int(round(b["l"] * s)), 0)
        t = max(int(round(b["t"] * s)), 0)
        r = min(int(round(b["r"] * s)), view_w)
        bt = min(int(round(b["b"] * s)), h)
        return l, t, r, bt

    blue = np.array([72, 120, 168], dtype=np.float64)
    for b in gt_boxes:
        l, t, r, bt = clip_box(b)
        if r <= l or bt <= t:
            continue
        region = img[t:bt, l:r].astype(np.float64)
        img[t:bt, l:r] = (0.82 * region + 0.18 * blue).astype(np.uint8)
        img[t : min(t + 1, h), l:r] = blue
        img[max(bt - 1, 0) : bt, l:r] = blue
        img[t:bt, l : min(l + 1, view_w)] = blue
        img[t:bt, max(r - 1, 0) : r] = blue
    red = np.array([200, 50, 50], dtype=np.uint8)
    for b in pred_boxes:
        l, t, r, bt = clip_box(b)
        if r <= l or bt <= t:
            continue
        img[t : min(t + 2, bt), l:r] = red
        img[max(bt - 2, t) : bt, l:r] = red
        img[t:bt, l : min(l + 2, r)] = red
        img[t:bt, max(r - 2, l) : r] = red
    return png_encode(img)


def save_inspection_html(
    ds: DataFrame,
    out_path: str,
    gt_col: str = "layout",
    pred_col: str | None = None,
    pages_col: str = "pages",
    key_col: str = "url",
    max_docs: int = 8,
    view_w: int = 400,
) -> int:
    """Inspection HTML with EMBEDDED RENDERED PAGE IMAGES: one real
    base64 PNG per page (rasterized geometry, GT blue / pred red),
    like the reference's save_inspection_html
    (`visualisation/visualisations.py:369-399`; base64 embedding as in
    `benchmarks/utils.py:97-102`). Bounded driver-side sample — the
    dataset scan stays distributed; only ≤max_docs rows are collected."""
    sample = layout_sample(ds, gt_col, pred_col, pages_col, key_col, max_docs)
    return render_inspection_html(sample, out_path, view_w)


def render_inspection_html(sample: LayoutSample, out_path: str, view_w: int = 400) -> int:
    """``save_inspection_html`` of an already-collected sample."""
    import base64

    sections = []
    for r, gt, pred, pages in sample.pages():
        imgs = []
        for pg, gt_p, pr_p, dims in pages:
            pw, ph = _page_extent(gt_p, pr_p, dims)
            png = render_page_image(gt_p, pr_p, pw, ph, view_w=view_w)
            b64 = base64.b64encode(png).decode("ascii")
            imgs.append(
                f'<figure><img src="data:image/png;base64,{b64}" '
                f'width="{view_w}" alt="page {pg}"/>'
                f"<figcaption>page {pg}</figcaption></figure>"
            )
        sections.append(
            f"<h3>{_html.escape(str(r[sample.key_col]))}</h3>"
            f"<p>{len(gt)} GT boxes (blue fill), {len(pred)} predicted "
            "(red border)</p>" + "".join(imgs)
        )
    _write_html(
        out_path,
        "<html><head><meta charset='utf-8'><style>"
        "body{font-family:sans-serif}figure{display:inline-block;margin:4px}"
        "img{border:1px solid #999}</style></head><body>"
        "<h2>Inspection: rendered pages (ground truth vs prediction)</h2>"
        + "".join(sections)
        + "</body></html>",
    )
    return len(sample.rows)


def save_layout_html(ds: DataFrame, out_dir: str) -> None:
    """``layout_overlay.html`` (12 documents) and ``inspection.html``
    (the first 8 of them) in ``out_dir``, from ONE collect of the
    sample — the same files the two ``save_*`` calls write."""
    sample = layout_sample(ds, max_docs=12)
    render_overlay_html(sample, f"{out_dir}/layout_overlay.html")
    render_inspection_html(
        sample._replace(rows=sample.rows[:8]), f"{out_dir}/inspection.html"
    )


def delta_row_col_report(teds_df: DataFrame) -> DataFrame:
    """Δrows/Δcols histogram (SURVEY A6, `table_evaluator.py:42-81`)."""
    return (
        teds_df.select(
            (F.col("true_nrows") - F.col("pred_nrows")).alias("delta_rows"),
            (F.col("true_ncols") - F.col("pred_ncols")).alias("delta_cols"),
        )
        .groupBy("delta_rows", "delta_cols")
        .agg(F.count("*").alias("n"))
    )
