"""Static-HTML dashboard twins of the reference Streamlit apps.

Reference parity: ``/root/reference/metrics_dashboard.py:20-46`` (state
selectbox → facility filter → ratio bar / hours-over-time lines /
contract bar) and ``/root/reference/streamlit_app.py:29-50`` (table
selectbox → preview, numeric-column means, completeness-by-column).

Streamlit re-runs pandas over the full CSV on every widget change; the
Spark twin inverts that: ALL states' chart data is computed in ONE
grouped pass per chart (the payload is the aggregate's size — states ×
facilities × quarters — bounded and independent of fact-table size),
embedded per state in the page, and the state selector just toggles
visibility client-side. The artifact is a single self-contained HTML
file (inline SVG, no external assets, no server), so it can sit next
to the metrics CSV on any static host; at 100 TB only the aggregation
runs on the cluster.

Charts follow the engine's dataviz conventions: single-hue bars for
magnitude-by-category, a capped fixed-order categorical assignment for
the per-facility lines (alphabetical facility → slot, extras folded
into a neutral "Other" — hues follow the entity, never its rank), text
in ink tokens, light/dark via CSS custom properties, and a data table
under every chart (the table view doubles as the low-contrast relief
and the accessibility fallback).
"""

from __future__ import annotations

import html as _html
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .parallel import map_actions

#: Line-series cap: 7 named facilities + the folded neutral "Other"
#: stays within the validated 8-slot categorical budget (the hex
#: values — light and dark steps of the same hues — live in ``_CSS``
#: as ``--s0..--s6`` / ``--sother`` custom properties).
_MAX_LINE_SERIES = 7


def metrics_payload(metrics: DataFrame) -> dict[str, Any]:
    """Per-state chart data from the staffing-metrics frame.

    One pass for the facility aggregates (mean ratios per PROVNUM) and
    one for the quarter × facility hours matrix, run concurrently — the
    same shapes the reference computes per interaction
    (``metrics_dashboard.py:28-45``), for every state at once. Rows
    with a NULL group key are dropped, as pandas ``groupby`` does by
    default. Output is deterministic: states, facilities, and quarters
    all sorted.
    """
    by_fac, by_qtr = map_actions(
        DataFrame.collect,
        [
            metrics.na.drop(subset=["STATE", "PROVNUM"])
            .groupBy("STATE", "PROVNUM")
            .agg(
                F.avg("nurse_to_patient_ratio").alias("ratio"),
                F.avg("contract_vs_employed_ratio").alias("contract"),
            ),
            metrics.na.drop(subset=["STATE", "CY_Qtr", "PROVNUM"])
            .groupBy("STATE", "CY_Qtr", "PROVNUM")
            .agg(F.sum("total_nurse_hours").alias("hours")),
        ],
    )
    states: dict[str, dict[str, Any]] = {}
    for r in by_fac:
        s = states.setdefault(
            r.STATE, {"facilities": {}, "quarters": set(), "hours": {}}
        )
        s["facilities"][r.PROVNUM] = {
            "ratio": r.ratio,
            "contract": r.contract,
        }
    for r in by_qtr:
        s = states.setdefault(
            r.STATE, {"facilities": {}, "quarters": set(), "hours": {}}
        )
        s["quarters"].add(r.CY_Qtr)
        s["hours"][(r.PROVNUM, r.CY_Qtr)] = r.hours
    out: dict[str, Any] = {}
    for state in sorted(states):
        s = states[state]
        facs = sorted(s["facilities"])
        quarters = sorted(s["quarters"])
        out[state] = {
            "facilities": facs,
            "quarters": quarters,
            "ratio": [s["facilities"][f]["ratio"] for f in facs],
            "contract": [s["facilities"][f]["contract"] for f in facs],
            "hours": {
                f: [s["hours"].get((f, q)) for q in quarters] for f in facs
            },
        }
    return out


def overview_payload(
    spark: SparkSession, tables: list[str] | None = None, *, preview_rows: int = 5
) -> dict[str, Any]:
    """Catalog overview data: per-table preview, numeric means, and
    completeness — the ``streamlit_app.py`` query set, one entry per
    catalog table (all precomputed, selector is client-side). Tables are
    listed with ``SHOW TABLES``, which runs no job (``listTables`` runs
    one, plus one per partition its local iterator fetches). The
    completeness of all tables is one query, run concurrently with each
    table's preview and means."""
    from .query_layer import numeric_means, preview

    listed = [r.tableName for r in spark.sql("SHOW TABLES").collect()]
    names = tables or sorted(n for n in listed if n != "dq_completeness")
    if not names:
        return {}

    def completeness() -> dict[str, dict[str, float]]:
        out: dict[str, dict[str, float]] = {name: {} for name in names}
        if "dq_completeness" in listed:
            for r in (
                spark.table("dq_completeness")
                .where(F.col("table_name").isin(names))
                .select("table_name", "column_name", "pct_not_null")
                .collect()
            ):
                out[r.table_name][r.column_name] = r.pct_not_null
        return out

    def entry(name: str) -> dict[str, Any]:
        df = spark.table(name)
        head = [
            {c: (None if row[c] is None else str(row[c])) for c in df.columns}
            for row in preview(df, preview_rows).collect()
        ]
        means = numeric_means(df).collect()
        return {
            "columns": df.columns,
            "preview": head,
            "numeric_means": means[0].asDict() if means else {},
        }

    by_table, *entries = map_actions(
        lambda task: task(), [completeness, *[lambda n=n: entry(n) for n in names]]
    )
    return {
        name: {**e, "completeness": by_table[name]} for name, e in zip(names, entries)
    }


# --------------------------------------------------------------------------
# SVG rendering (stdlib only; inline, self-contained)
# --------------------------------------------------------------------------

_W, _H, _PAD_L, _PAD_B, _PAD_T = 640, 240, 56, 34, 12


def _esc(s: Any) -> str:
    return _html.escape(str(s))


def _fmt(v: float | None) -> str:
    if v is None:
        return "—"
    return f"{v:,.3g}" if abs(v) < 1000 else f"{v:,.0f}"


def _nice_ceil(v: float) -> float:
    """Smallest 'nice' number (1/2/2.5/5/10 × power of 10) ≥ v."""
    if v <= 0:
        return 1.0
    import math

    mag = 10 ** math.floor(math.log10(v))
    for m in (1, 2, 2.5, 5, 10):
        if v <= m * mag:
            return m * mag
    return 10 * mag


def _y_scale(vmax: float, vmin: float = 0.0) -> tuple[float, float, list[float]]:
    """Rounded (top, bottom, gridline values). Bottom is 0 unless the
    data has negative values (the reference st.bar_chart scales to
    cover negatives — a bar below the axis, not a path outside the
    viewBox), in which case it extends to a nice negative minimum."""
    top = _nice_ceil(vmax)
    bot = -_nice_ceil(-vmin) if vmin < 0 else 0.0
    ticks = [top * i / 4 for i in range(1, 5)]
    if bot < 0:
        ticks += [bot * i / 4 for i in range(1, 5)]
    return top, bot, ticks


def _ymap(top: float, bot: float):
    """Value → pixel-y over [bot, top]; baseline (0) moves up when a
    negative region exists."""
    span = top - bot

    def y(v: float) -> float:
        return _H - _PAD_B - ((v - bot) / span) * (_H - _PAD_B - _PAD_T)

    return y


def _grid(top: float, bot: float, ticks: list[float]) -> list[str]:
    y = _ymap(top, bot)
    parts = []
    for t in ticks:
        parts.append(
            f'<line x1="{_PAD_L}" y1="{y(t):.1f}" x2="{_W - 8}" y2="{y(t):.1f}" class="grid"/>'
            f'<text x="{_PAD_L - 6}" y="{y(t) + 3.5:.1f}" class="tick" text-anchor="end">{_fmt(t)}</text>'
        )
    parts.append(
        f'<line x1="{_PAD_L}" y1="{y(0.0):.1f}" x2="{_W - 8}" y2="{y(0.0):.1f}" class="axis"/>'
    )
    return parts


def _bar_chart(
    labels: list[str], values: list[float | None], *, unit: str = ""
) -> str:
    """Single-series bar chart: thin bars, rounded value end, per-bar
    hover title; identity lives in the x labels (one series → no
    legend)."""
    vals = [v for v in values if v is not None]
    top, bot, ticks = _y_scale(max(vals) if vals else 1.0, min(vals) if vals else 0.0)
    ypix = _ymap(top, bot)
    y_base = ypix(0.0)
    n = max(len(labels), 1)
    span = _W - _PAD_L - 16
    bw = min(28.0, span / n * 0.6)
    parts = [
        f'<svg viewBox="0 0 {_W} {_H}" role="img" xmlns="http://www.w3.org/2000/svg">'
    ]
    parts += _grid(top, bot, ticks)
    label_step = max(1, (n + 11) // 12)  # thin crowded x labels
    for i, (lab, v) in enumerate(zip(labels, values)):
        xc = _PAD_L + span * (i + 0.5) / n
        if i % label_step == 0:
            parts.append(
                f'<text x="{xc:.1f}" y="{_H - _PAD_B + 14}" class="tick" text-anchor="middle">{_esc(lab)}</text>'
            )
        if v is None:
            continue
        yv = ypix(v)
        h = abs(y_base - yv)
        x = xc - bw / 2
        r = min(4.0, bw / 2, h)
        if v >= 0:
            # rounded top corners, square baseline (data-end rounding)
            path = (
                f"M{x:.1f},{y_base:.1f} V{yv + r:.1f} "
                f"Q{x:.1f},{yv:.1f} {x + r:.1f},{yv:.1f} H{x + bw - r:.1f} "
                f"Q{x + bw:.1f},{yv:.1f} {x + bw:.1f},{yv + r:.1f} V{y_base:.1f} Z"
            )
        else:
            # negative: bar hangs below the axis, rounded BOTTOM corners
            path = (
                f"M{x:.1f},{y_base:.1f} V{yv - r:.1f} "
                f"Q{x:.1f},{yv:.1f} {x + r:.1f},{yv:.1f} H{x + bw - r:.1f} "
                f"Q{x + bw:.1f},{yv:.1f} {x + bw:.1f},{yv - r:.1f} V{y_base:.1f} Z"
            )
        parts.append(
            f'<path d="{path}" class="bar"><title>{_esc(lab)}: {_fmt(v)}{unit}</title></path>'
        )
        if n <= 12:  # selective direct labels; hover + table carry the rest
            ylab = yv - 5 if v >= 0 else yv + 12
            parts.append(
                f'<text x="{xc:.1f}" y="{ylab:.1f}" class="val" text-anchor="middle">{_fmt(v)}</text>'
            )
    parts.append("</svg>")
    return "".join(parts)


def _line_chart(x_labels: list[str], series: dict[str, list[float | None]]) -> str:
    """Multi-series line chart: 2px lines, 8px hoverable markers,
    fixed-order hue assignment, legend (identity never color-alone —
    the legend plus the table view carry it)."""
    vals = [v for ys in series.values() for v in ys if v is not None]
    top, bot, ticks = _y_scale(max(vals) if vals else 1.0, min(vals) if vals else 0.0)
    ypix = _ymap(top, bot)
    n = max(len(x_labels), 1)
    span = _W - _PAD_L - 24
    parts = [
        f'<svg viewBox="0 0 {_W} {_H}" role="img" xmlns="http://www.w3.org/2000/svg">'
    ]
    parts += _grid(top, bot, ticks)
    for i, lab in enumerate(x_labels):
        x = _PAD_L + (span * i / (n - 1) if n > 1 else span / 2)
        parts.append(
            f'<text x="{x:.1f}" y="{_H - _PAD_B + 14}" class="tick" text-anchor="middle">{_esc(lab)}</text>'
        )

    def _xy(i: int, v: float) -> tuple[float, float]:
        x = _PAD_L + (span * i / (n - 1) if n > 1 else span / 2)
        return x, ypix(v)

    for si, (name, ys) in enumerate(series.items()):
        cls = f"s{si}" if name != "Other" else "sother"
        pts = [(i, v) for i, v in enumerate(ys) if v is not None]
        if not pts:
            continue
        d = "M" + " L".join(f"{_xy(i, v)[0]:.1f},{_xy(i, v)[1]:.1f}" for i, v in pts)
        parts.append(f'<path d="{d}" class="line {cls}" fill="none"/>')
        for i, v in pts:
            x, y = _xy(i, v)
            parts.append(
                f'<circle cx="{x:.1f}" cy="{y:.1f}" r="4" class="dot {cls}">'
                f"<title>{_esc(name)} · {_esc(x_labels[i])}: {_fmt(v)}</title></circle>"
            )
    parts.append("</svg>")
    legend = "".join(
        f'<span class="key"><span class="swatch {"sother" if name == "Other" else f"s{si}"}"></span>{_esc(name)}</span>'
        for si, name in enumerate(series)
    )
    return f'<div class="legend">{legend}</div>' + "".join(parts)


def _table(headers: list[str], rows: list[list[Any]]) -> str:
    head = "".join(f"<th>{_esc(h)}</th>" for h in headers)
    body = "".join(
        "<tr>" + "".join(f"<td>{_esc(_fmt(c) if isinstance(c, float) else c if c is not None else '—')}</td>" for c in r) + "</tr>"
        for r in rows
    )
    return (
        '<details class="tbl"><summary>data table</summary>'
        f"<table><thead><tr>{head}</tr></thead><tbody>{body}</tbody></table></details>"
    )


_CSS = """
:root { color-scheme: light dark; }
body { margin: 0; font: 14px/1.45 system-ui, sans-serif; }
.viz-root {
  --surface-1: #fcfcfb; --text-primary: #0b0b0b; --text-secondary: #52514e;
  --grid: #e4e3df; --bar: #2a78d6;
  --s0: #2a78d6; --s1: #eb6834; --s2: #1baf7a; --s3: #eda100;
  --s4: #e87ba4; --s5: #008300; --s6: #4a3aa7; --sother: #8a8984;
  background: var(--surface-1); color: var(--text-primary);
  max-width: 720px; margin: 0 auto; padding: 16px 20px 40px;
}
@media (prefers-color-scheme: dark) {
  .viz-root {
    --surface-1: #1a1a19; --text-primary: #ffffff; --text-secondary: #c3c2b7;
    --grid: #36352f; --bar: #3987e5;
    --s0: #3987e5; --s1: #d95926; --s2: #199e70; --s3: #c98500;
    --s4: #d55181; --s5: #008300; --s6: #9085e9; --sother: #8a8984;
  }
}
h1 { font-size: 20px; } h2 { font-size: 15px; margin: 28px 0 6px; }
svg { width: 100%; height: auto; display: block; }
.grid { stroke: var(--grid); stroke-width: 1; }
.axis { stroke: var(--text-secondary); stroke-width: 1; }
.tick, .val { fill: var(--text-secondary); font: 11px system-ui, sans-serif; }
.val { fill: var(--text-primary); }
.bar { fill: var(--bar); }
.line { stroke-width: 2; } .dot { stroke: var(--surface-1); stroke-width: 2; }
.s0 { stroke: var(--s0); fill: var(--s0); } .s1 { stroke: var(--s1); fill: var(--s1); }
.s2 { stroke: var(--s2); fill: var(--s2); } .s3 { stroke: var(--s3); fill: var(--s3); }
.s4 { stroke: var(--s4); fill: var(--s4); } .s5 { stroke: var(--s5); fill: var(--s5); }
.s6 { stroke: var(--s6); fill: var(--s6); } .sother { stroke: var(--sother); fill: var(--sother); }
path.line { fill: none !important; }
/* after the series rules so markers keep the surface ring (the series
   class would otherwise override .dot's stroke) */
circle.dot { stroke: var(--surface-1); }
.legend { display: flex; flex-wrap: wrap; gap: 12px; margin: 4px 0; }
.key { color: var(--text-secondary); font-size: 12px; display: inline-flex; align-items: center; gap: 5px; }
.swatch { width: 10px; height: 10px; border-radius: 2px; display: inline-block; }
select { font: inherit; padding: 2px 6px; margin: 8px 0 4px; }
.tbl summary { color: var(--text-secondary); font-size: 12px; cursor: pointer; margin: 4px 0; }
table { border-collapse: collapse; font-size: 12px; }
td, th { border: 1px solid var(--grid); padding: 2px 8px; text-align: left; }
.panel { display: none; } .panel.active { display: block; }
"""

_JS = """
document.querySelectorAll('select[data-switch]').forEach(function (sel) {
  sel.addEventListener('change', function () {
    var group = sel.getAttribute('data-switch');
    document.querySelectorAll('.panel[data-group="' + group + '"]').forEach(function (p) {
      p.classList.toggle('active', p.getAttribute('data-key') === sel.value);
    });
  });
});
"""


def _page(title: str, body: str) -> str:
    return (
        "<!doctype html><html><head><meta charset='utf-8'>"
        f"<title>{_esc(title)}</title><style>{_CSS}</style></head>"
        f"<body><div class='viz-root'><h1>{_esc(title)}</h1>{body}</div>"
        f"<script>{_JS}</script></body></html>"
    )


def _hours_series(state: dict[str, Any]) -> dict[str, list[float | None]]:
    """Facility → hours-by-quarter, alphabetical slot order, extras
    folded into a summed neutral 'Other' (≤ 8 line series total)."""
    facs = state["facilities"]
    keep = facs[:_MAX_LINE_SERIES]
    series: dict[str, list[float | None]] = {
        f: state["hours"][f] for f in keep
    }
    rest = facs[_MAX_LINE_SERIES:]
    if rest:
        nq = len(state["quarters"])
        other: list[float | None] = []
        for qi in range(nq):
            vals = [
                state["hours"][f][qi]
                for f in rest
                if state["hours"][f][qi] is not None
            ]
            other.append(sum(vals) if vals else None)
        series["Other"] = other
    return series


def render_metrics_html(payload: dict[str, Any]) -> str:
    states = sorted(payload)
    opts = "".join(
        f'<option value="{_esc(s)}"{" selected" if i == 0 else ""}>{_esc(s)}</option>'
        for i, s in enumerate(states)
    )
    panels = []
    for i, st in enumerate(states):
        s = payload[st]
        hours = _hours_series(s)
        body = (
            "<h2>Nurse-to-patient ratio by facility (mean)</h2>"
            + _bar_chart(s["facilities"], s["ratio"])
            + _table(["facility", "mean ratio"], list(zip(s["facilities"], s["ratio"])))
            + "<h2>Total nurse hours over time</h2>"
            + _line_chart(s["quarters"], hours)
            + _table(
                ["facility", *s["quarters"]],
                [[f, *vals] for f, vals in hours.items()],
            )
            + "<h2>Contract vs. employed ratio by facility (mean)</h2>"
            + _bar_chart(s["facilities"], s["contract"])
            + _table(
                ["facility", "mean contract/employed"],
                list(zip(s["facilities"], s["contract"])),
            )
        )
        panels.append(
            f'<div class="panel{" active" if i == 0 else ""}" data-group="state" data-key="{_esc(st)}">{body}</div>'
        )
    sel = f'<label>State <select data-switch="state">{opts}</select></label>'
    return _page("Nursing Home Staffing Metrics", sel + "".join(panels))


def render_overview_html(payload: dict[str, Any]) -> str:
    tables = sorted(payload)
    opts = "".join(
        f'<option value="{_esc(t)}"{" selected" if i == 0 else ""}>{_esc(t)}</option>'
        for i, t in enumerate(tables)
    )
    panels = []
    for i, t in enumerate(tables):
        p = payload[t]
        body = (
            "<h2>Preview</h2>"
            + _table(
                p["columns"],
                [[row.get(c) for c in p["columns"]] for row in p["preview"]],
            ).replace("<details", "<details open", 1)
        )
        if p["numeric_means"]:
            cols = sorted(p["numeric_means"])
            vals = [p["numeric_means"][c] for c in cols]
            body += "<h2>Numeric column averages</h2>" + _bar_chart(cols, vals)
            body += _table(["column", "mean"], list(zip(cols, vals)))
        if p["completeness"]:
            cols = sorted(p["completeness"])
            vals = [p["completeness"][c] for c in cols]
            body += "<h2>Completeness % by column</h2>" + _bar_chart(
                cols, vals, unit="%"
            )
            body += _table(["column", "% not null"], list(zip(cols, vals)))
        panels.append(
            f'<div class="panel{" active" if i == 0 else ""}" data-group="table" data-key="{_esc(t)}">{body}</div>'
        )
    sel = f'<label>Table <select data-switch="table">{opts}</select></label>'
    return _page("Nursing Home Data Overview", sel + "".join(panels))


def write_html(html: str, path: str) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(html)

