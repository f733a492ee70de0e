"""Render the 7 dashboard tabs to ONE standalone HTML file, zero deps.

The dashboard rendering edge: the reference ships a
Streamlit+Plotly app (streamlit_app/app.py, 7 tabs) over the gold marts;
this engine computes every tab's frame in Spark (bi.py, parity-tested vs
pandas) and here renders them -- stat-tile KPI rows, SVG bar charts with
hover tooltips, an SVG line chart with a crosshair readout, and a table
view behind every chart (the accessibility twin). Plotly/Streamlit stay
out-of-engine per SURVEY.md EP4; if a user has them, `bi.to_pandas`
frames drop straight into `plotly.express` the same way.

Chart conventions follow a validated single-hue system (the frames are all
single-series): 24px-max bars with rounded data ends and surface gaps,
2px line with a 10%-opacity wash, hairline solid grid, text in ink tokens
(never the series color), light+dark via CSS custom properties, direct
labels at bar ends / line endpoint so tooltips enhance rather than gate.

Usage:  python tools/dashboard_export.py [sf_dir] [out.html]
Default sf_dir /root/testdata/sf0.001, out /tmp/cdc_dashboard.html.
"""

from __future__ import annotations

import html
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ---------------------------------------------------------------- data layer


def build_frames(spark, sf_dir: str) -> dict:
    """Compute every tab's presentation frame in Spark (bi.py builders over
    the graded mart queries) and cross to pandas ONLY at the very edge."""
    from aws_glue_cdc_metrics_job_spark import bi
    from aws_glue_cdc_metrics_job_spark.plans.catalog import QUERIES, load_all

    load_all()

    def mart(name):
        return QUERIES[name](spark, sf_dir)

    seg = mart("mart_customer_clv_segment")
    rfm = mart("mart_customer_rfm")
    churn = mart("mart_customer_churn_profile")
    daily = mart("mart_sales_trends_daily")
    loyalty = mart("mart_loyalty_program_impact")
    location = mart("mart_location_performance")
    discount = mart("mart_discount_effectiveness")

    return {
        "clv_kpis": bi.to_pandas(bi.clv_kpis(seg)),
        "clv_dist": bi.to_pandas(bi.distribution(seg, "CLV_GROUP")),
        "rfm_kpis": bi.to_pandas(bi.rfm_kpis(rfm)),
        "rfm_segments": bi.to_pandas(bi.rfm_segment_summary(rfm)).sort_values(
            "CUSTOMERS", ascending=False
        ),
        "churn_kpis": bi.to_pandas(bi.churn_kpis(churn)),
        "daily_rev": bi.to_pandas(bi.daily_revenue_series(daily)),
        "loyalty": bi.to_pandas(bi.loyalty_labeled(loyalty)),
        "location_top": bi.to_pandas(bi.location_top(location)),
        "location_top10": bi.to_pandas(bi.top_ranked(location, "REVENUE_RANK", 10)).sort_values(
            "REVENUE_RANK"
        ),
        "discount": bi.to_pandas(bi.discount_labeled(discount)),
    }


# ------------------------------------------------------------ render helpers

# Validated single-hue system (scripts/validate_palette.js: ALL PASS in both
# modes against these surfaces).
CSS = """
:root { color-scheme: light dark; }
.viz-root {
  --surface-1: #fcfcfb; --surface-2: #f0efec;
  --ink-1: #0b0b0b; --ink-2: #52514e; --grid: #e7e6e2;
  --series-1: #2a78d6; --wash: rgba(42,120,214,.10);
  background: var(--surface-1); color: var(--ink-1);
  font: 14px/1.45 system-ui, -apple-system, "Segoe UI", sans-serif;
  max-width: 980px; margin: 0 auto; padding: 24px;
}
@media (prefers-color-scheme: dark) { .viz-root {
  --surface-1: #1a1a19; --surface-2: #383835;
  --ink-1: #ffffff; --ink-2: #c3c2b7; --grid: #32322f;
  --series-1: #3987e5; --wash: rgba(57,135,229,.12);
} }
h1 { font-size: 22px; margin: 0 0 2px; }
.sub { color: var(--ink-2); margin: 0 0 24px; }
section { margin: 0 0 36px; }
h2 { font-size: 16px; margin: 0 0 10px; border-top: 1px solid var(--grid); padding-top: 18px; }
.kpis { display: flex; gap: 12px; flex-wrap: wrap; margin-bottom: 14px; }
.tile { background: var(--surface-1); border: 1px solid var(--grid); border-radius: 8px;
        padding: 10px 16px 12px; min-width: 150px; }
.tile .lbl { color: var(--ink-2); font-size: 12px; }
.tile .val { font-size: 26px; font-weight: 600; }
figure { margin: 0; }
figcaption { color: var(--ink-2); font-size: 12px; margin: 4px 0 6px; }
svg text { fill: var(--ink-1); font: 12px system-ui, sans-serif; }
svg .lbl2 { fill: var(--ink-2); }
svg .grid { stroke: var(--grid); stroke-width: 1; }
svg .mark { fill: var(--series-1); }
svg .line { stroke: var(--series-1); stroke-width: 2; fill: none;
            stroke-linejoin: round; stroke-linecap: round; }
svg .wash { fill: var(--wash); }
svg .ring { stroke: var(--surface-1); stroke-width: 2; fill: var(--series-1); }
svg .hair { stroke: var(--ink-2); stroke-width: 1; }
details { margin: 6px 0 0; }
summary { color: var(--ink-2); font-size: 12px; cursor: pointer; }
table { border-collapse: collapse; margin-top: 6px; }
th, td { border: 1px solid var(--grid); padding: 4px 10px; font-size: 13px;
         text-align: right; font-variant-numeric: tabular-nums; }
th:first-child, td:first-child { text-align: left; }
#tip { position: fixed; pointer-events: none; background: var(--surface-1);
       border: 1px solid var(--grid); border-radius: 6px; padding: 6px 10px;
       font-size: 12px; display: none; box-shadow: 0 2px 8px rgba(0,0,0,.12); z-index: 9; }
#tip b { font-size: 13px; }
.bar-hit { fill: transparent; cursor: default; }
.bar-hit:hover + path, .bar-hit:focus + path { filter: brightness(1.15); }
"""

JS = """
const tip = document.getElementById('tip');
function showTip(ev, label, value) {
  tip.style.display = 'block';
  tip.replaceChildren();
  const b = document.createElement('b'); b.textContent = value;
  const s = document.createElement('div'); s.textContent = label;
  s.style.color = 'var(--ink-2)';
  tip.append(b, s);
  tip.style.left = Math.min(ev.clientX + 14, innerWidth - 180) + 'px';
  tip.style.top = (ev.clientY + 14) + 'px';
}
function hideTip() { tip.style.display = 'none'; }
document.querySelectorAll('.bar-hit').forEach(r => {
  r.addEventListener('pointermove', ev => showTip(ev, r.dataset.l, r.dataset.v));
  r.addEventListener('pointerleave', hideTip);
  r.addEventListener('focus', ev => {
    const b = r.getBoundingClientRect();
    showTip({clientX: b.right, clientY: b.top}, r.dataset.l, r.dataset.v);
  });
  r.addEventListener('blur', hideTip);
});
document.querySelectorAll('svg[data-series]').forEach(svg => {
  const pts = JSON.parse(svg.dataset.series);
  const x0 = +svg.dataset.x0, x1 = +svg.dataset.x1;
  const cross = svg.querySelector('.crosshair');
  svg.addEventListener('pointermove', ev => {
    const r = svg.getBoundingClientRect();
    const fx = (ev.clientX - r.left) * (svg.viewBox.baseVal.width / r.width);
    if (fx < x0 || fx > x1 || !pts.length) { cross.style.display='none'; hideTip(); return; }
    let best = 0, bd = 1e18;
    pts.forEach((p, i) => { const d = Math.abs(p[0] - fx); if (d < bd) { bd = d; best = i; } });
    const p = pts[best];
    cross.setAttribute('x1', p[0]); cross.setAttribute('x2', p[0]);
    cross.style.display = 'block';
    showTip(ev, p[2], p[3]);
  });
  svg.addEventListener('pointerleave', () => { cross.style.display='none'; hideTip(); });
});
"""


def fmt(v, money=False) -> str:
    if v is None:
        return "–"
    if isinstance(v, str) or not hasattr(v, "__int__"):
        return str(v)
    if isinstance(v, float):
        if abs(v) >= 10000:
            return ("$" if money else "") + f"{v:,.0f}"
        return ("$" if money else "") + f"{v:,.2f}"
    return ("$" if money else "") + f"{int(v):,}"


def kpi_row(pairs) -> str:
    tiles = "".join(
        f'<div class="tile"><div class="lbl">{html.escape(lbl)}</div>'
        f'<div class="val">{html.escape(val)}</div></div>'
        for lbl, val in pairs
    )
    return f'<div class="kpis">{tiles}</div>'


def data_table(df, cols, money=()) -> str:
    head = "".join(f"<th>{html.escape(c)}</th>" for c in cols)
    body = ""
    for _, row in df.iterrows():
        body += (
            "<tr>"
            + "".join(f"<td>{html.escape(fmt(row[c], c in money))}</td>" for c in cols)
            + "</tr>"
        )
    return (
        "<details><summary>Table view</summary><table>"
        f"<tr>{head}</tr>{body}</table></details>"
    )


def hbar_chart(df, cat_col, val_col, money=False, width=640) -> str:
    """Horizontal bars: <=24px thick, 4px rounded data end (square at the
    baseline), 2px surface gap between neighbors, value label OUTSIDE the
    bar end in ink, category labels on the left, per-bar hover tooltip."""
    rows = list(df.iterrows())
    if not rows:
        return "<p class='sub'>No data.</p>"
    vmax = max(float(r[val_col]) for _, r in rows) or 1.0
    bar_h, gap, left, right = 22, 8, 150, 105
    top = 6
    h = top + len(rows) * (bar_h + gap)
    plot_w = width - left - right
    parts = [
        f'<svg viewBox="0 0 {width} {h}" width="{width}" role="img" '
        f'style="max-width:100%;height:auto">'
    ]
    for i, (_, r) in enumerate(rows):
        y = top + i * (bar_h + gap)
        w = max(2.0, float(r[val_col]) / vmax * plot_w)
        label = str(r[cat_col])
        value = fmt(r[val_col] if not isinstance(r[val_col], float) else float(r[val_col]), money)
        rad = min(4, w / 2)
        path = (
            f"M{left},{y} h{w - rad:.1f} q{rad},0 {rad},{rad} "
            f"v{bar_h - 2 * rad} q0,{rad} -{rad},{rad} h-{w - rad:.1f} z"
        )
        parts.append(
            f'<text x="{left - 8}" y="{y + bar_h / 2 + 4}" text-anchor="end">{html.escape(label)}</text>'
            f'<rect class="bar-hit" tabindex="0" x="{left}" y="{y - gap / 2}" width="{plot_w}" '
            f'height="{bar_h + gap}" data-l="{html.escape(label)}" data-v="{html.escape(value)}"></rect>'
            f'<path class="mark" d="{path}"></path>'
            f'<text class="lbl2" x="{left + w + 8}" y="{y + bar_h / 2 + 4}">{html.escape(value)}</text>'
        )
    parts.append("</svg>")
    return "".join(parts)


def _ticks(vmax: float, n: int = 4):
    import math

    if vmax <= 0:
        return [0]
    step = 10 ** math.floor(math.log10(vmax / n))
    for m in (1, 2, 2.5, 5, 10):
        if vmax / (step * m) <= n:
            step *= m
            break
    return [i * step for i in range(int(vmax // step) + 1)]


def line_chart(df, x_col, y_col, money=True, width=920, height=260) -> str:
    """Single-series line: 2px round-join path over a 10% wash, >=8px end
    dot with a 2px surface ring, endpoint direct label, clean y ticks,
    hairline solid grid, crosshair tooltip fed by inline JSON."""
    rows = list(df.iterrows())
    if not rows:
        return "<p class='sub'>No data.</p>"
    left, right, top, bottom = 70, 90, 14, 28
    pw, ph = width - left - right, height - top - bottom
    ys = [float(r[y_col]) for _, r in rows]
    vmax = max(ys) or 1.0
    ticks = _ticks(vmax)
    vtop = max(vmax, ticks[-1]) * 1.02
    n = len(rows)
    pts = []
    for i, (_, r) in enumerate(rows):
        px = left + (i / max(1, n - 1)) * pw
        py = top + ph - float(r[y_col]) / vtop * ph
        pts.append((round(px, 1), round(py, 1), str(r[x_col]), fmt(float(r[y_col]), money)))
    series = json.dumps([[p[0], p[1], p[2], p[3]] for p in pts])
    grid = "".join(
        f'<line class="grid" x1="{left}" x2="{left + pw}" '
        f'y1="{top + ph - t / vtop * ph:.1f}" y2="{top + ph - t / vtop * ph:.1f}"></line>'
        f'<text class="lbl2" x="{left - 8}" y="{top + ph - t / vtop * ph + 4:.1f}" '
        f'text-anchor="end" style="font-variant-numeric:tabular-nums">{fmt(float(t), False)}</text>'
        for t in ticks
    )
    path = "M" + " L".join(f"{p[0]},{p[1]}" for p in pts)
    wash = f"M{left},{top + ph} L" + " L".join(f"{p[0]},{p[1]}" for p in pts) + f" L{left + pw},{top + ph} z"
    lx0, lxn = pts[0], pts[-1]
    xlabels = (
        f'<text class="lbl2" x="{lx0[0]}" y="{height - 8}" text-anchor="start">{html.escape(lx0[2])}</text>'
        f'<text class="lbl2" x="{lxn[0]}" y="{height - 8}" text-anchor="end">{html.escape(lxn[2])}</text>'
    )
    end_label = (
        f'<text x="{lxn[0] + 12}" y="{lxn[1] + 4}">{html.escape(lxn[3])}</text>'
    )
    return (
        f'<svg viewBox="0 0 {width} {height}" width="{width}" data-series=\'{series}\' '
        f'data-x0="{left}" data-x1="{left + pw}" role="img" style="max-width:100%;height:auto">'
        f"{grid}"
        f'<path class="wash" d="{wash}"></path>'
        f'<path class="line" d="{path}"></path>'
        f'<circle class="ring" cx="{lxn[0]}" cy="{lxn[1]}" r="4"></circle>'
        f"{end_label}{xlabels}"
        f'<line class="crosshair hair" y1="{top}" y2="{top + ph}" x1="0" x2="0" '
        f'style="display:none"></line>'
        "</svg>"
    )


# ------------------------------------------------------------------ assembly


def render_html(f: dict, sf_dir: str) -> str:
    c = f["clv_kpis"].iloc[0]
    r = f["rfm_kpis"].iloc[0]
    ch = f["churn_kpis"].iloc[0]
    sections = []

    sections.append(
        "<section><h2>1 · Customer lifetime value</h2>"
        + kpi_row([
            ("Total customers", fmt(c["TOTAL_CUSTOMERS"])),
            ("Average CLV", fmt(float(c["AVG_CLV"]), True)),
            ("High-value customers", fmt(c["HIGH_VALUE_CUSTOMERS"])),
        ])
        + "<figure>"
        + hbar_chart(f["clv_dist"], "CLV_GROUP", "N")
        + "<figcaption>Customers per CLV group</figcaption></figure>"
        + data_table(f["clv_dist"], ["CLV_GROUP", "N"])
        + "</section>"
    )

    sections.append(
        "<section><h2>2 · RFM segmentation</h2>"
        + kpi_row([
            ("Total customers", fmt(r["TOTAL_CUSTOMERS"])),
            ("Avg recency (days)", fmt(float(r["AVG_RECENCY"]))),
            ("Avg frequency", fmt(float(r["AVG_FREQUENCY"]))),
            ("Avg monetary", fmt(float(r["AVG_MONETARY"]), True)),
        ])
        + "<figure>"
        + hbar_chart(f["rfm_segments"], "SEGMENT", "CUSTOMERS")
        + "<figcaption>Customers per RFM segment</figcaption></figure>"
        + data_table(
            f["rfm_segments"], ["SEGMENT", "CUSTOMERS", "RECENCY", "FREQUENCY", "MONETARY"],
            money=("MONETARY",),
        )
        + "</section>"
    )

    sections.append(
        "<section><h2>3 · Churn risk</h2>"
        + kpi_row([
            ("Total customers", fmt(ch["TOTAL_CUSTOMERS"])),
            ("Avg days since last order", fmt(float(ch["AVG_DAYS_SINCE_LAST_ORDER"]))),
            ("Avg order gap (days)", fmt(float(ch["AVG_ORDER_GAP"]))),
            ("Avg spend change", f"{float(ch['AVG_PCT_SPEND_CHANGE']):+.1f}%"),
        ])
        + "</section>"
    )

    sections.append(
        "<section><h2>4 · Sales trends</h2><figure>"
        + line_chart(f["daily_rev"], "CREATION_DATE", "DAILY_REVENUE")
        + "<figcaption>Daily revenue</figcaption></figure>"
        + data_table(f["daily_rev"].tail(30), ["CREATION_DATE", "DAILY_REVENUE"], money=("DAILY_REVENUE",))
        + "</section>"
    )

    sections.append(
        "<section><h2>5 · Loyalty program impact</h2><figure>"
        + hbar_chart(f["loyalty"], "IS_LOYALTY", "AVG_SPEND_PER_CUSTOMER", money=True)
        + "<figcaption>Average spend per customer</figcaption></figure>"
        + data_table(
            f["loyalty"],
            ["IS_LOYALTY", "NUM_CUSTOMERS", "AVG_SPEND_PER_CUSTOMER", "REPEAT_ORDER_RATE"],
            money=("AVG_SPEND_PER_CUSTOMER",),
        )
        + "</section>"
    )

    lt = f["location_top"].iloc[0] if len(f["location_top"]) else None
    top10 = f["location_top10"].copy()
    top10["RESTAURANT"] = top10["RESTAURANT_ID"].map(lambda v: f"Restaurant {v}")
    sections.append(
        "<section><h2>6 · Location performance</h2>"
        + (
            kpi_row([
                ("Top location", f"Restaurant {lt['RESTAURANT_ID']}"),
                ("Its total revenue", fmt(float(lt["TOTAL_REVENUE"]), True)),
                ("Its orders per day", fmt(float(lt["ORDERS_PER_DAY"]))),
            ])
            if lt is not None
            else ""
        )
        + "<figure>"
        + hbar_chart(top10, "RESTAURANT", "TOTAL_REVENUE", money=True)
        + "<figcaption>Top locations by total revenue</figcaption></figure>"
        + data_table(
            top10, ["RESTAURANT", "TOTAL_REVENUE", "NUM_ORDERS", "ORDERS_PER_DAY"],
            money=("TOTAL_REVENUE",),
        )
        + "</section>"
    )

    sections.append(
        "<section><h2>7 · Discount effectiveness</h2><figure>"
        + hbar_chart(f["discount"], "IS_DISCOUNTED_ORDER", "NUM_ORDERS")
        + "<figcaption>Orders by discount status</figcaption></figure>"
        + data_table(
            f["discount"],
            ["IS_DISCOUNTED_ORDER", "NUM_ORDERS", "TOTAL_REVENUE", "AVG_ORDER_VALUE"],
            money=("TOTAL_REVENUE", "AVG_ORDER_VALUE"),
        )
        + "</section>"
    )

    return (
        "<!doctype html><html><head><meta charset='utf-8'>"
        "<meta name='viewport' content='width=device-width,initial-scale=1'>"
        f"<title>CDC metrics dashboard</title><style>{CSS}</style></head>"
        "<body class='viz-root'>"
        "<h1>CDC metrics dashboard</h1>"
        f"<p class='sub'>Computed in Spark from {html.escape(sf_dir)} · all 7 tabs of the "
        "reference dashboard, engine-side</p>"
        + "".join(sections)
        + f"<div id='tip'></div><script>{JS}</script></body></html>"
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/cdc_dashboard.html"
    from aws_glue_cdc_metrics_job_spark.session import get_spark

    spark = get_spark(app_name="dashboard-export")
    frames = build_frames(spark, sf_dir)
    doc = render_html(frames, sf_dir)
    with open(out, "w") as fh:
        fh.write(doc)
    print(f"wrote {out} ({len(doc):,} bytes)")


if __name__ == "__main__":
    main()
