"""Docs site generation: a self-contained HTML lineage + catalog page.

Reference surface: ``dbt docs generate`` + ``dbt docs serve``
(``SP/dbt/task/docs/``) build a browsable site from manifest.json +
catalog.json. The reference ships a prebuilt React bundle; here the site
is a single dependency-free ``index.html`` — the manifest/catalog
payloads are embedded as JSON, the DAG is laid out server-side into an
SVG (topological columns, the same depth grouping the scheduler uses),
and ~40 lines of vanilla JS drive node selection. No external assets,
so the file opens from disk anywhere.

Scale note: the site is O(nodes + edges) metadata only — generation
never touches table data beyond the schemas already captured in the
manifest, so it is as cheap at 100 TB as at 100 MB.
"""

from __future__ import annotations

import html
import json
import os
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from .registry import Project

_KIND_COLOR = {
    "source": "#7aa2f7",
    "seed": "#9ece6a",
    "model": "#e0af68",
    "snapshot": "#bb9af7",
    "exposure": "#f7768e",
}

_NODE_W, _NODE_H, _GAP_X, _GAP_Y, _PAD = 170, 34, 90, 18, 24

_CSS = """
body{font-family:system-ui,sans-serif;margin:0;display:flex;height:100vh}
#side{width:340px;overflow:auto;border-right:1px solid #ddd;padding:12px}
#main{flex:1;overflow:auto;padding:12px}
h1{font-size:18px;margin:4px 0 12px}
h2{font-size:14px;margin:12px 0 4px}
.node rect{stroke:#555;rx:6;cursor:pointer}
.node text{font-size:11px;pointer-events:none}
.node.sel rect{stroke:#000;stroke-width:2.5}
path.edge{fill:none;stroke:#999;stroke-width:1.2}
table{border-collapse:collapse;font-size:12px;width:100%}
td,th{border:1px solid #ddd;padding:3px 6px;text-align:left}
.tag{background:#eef;border-radius:8px;padding:1px 7px;margin-right:4px;font-size:11px}
.kind{color:#666;font-size:12px}
pre{background:#f6f6f6;padding:8px;font-size:11px;overflow:auto}
"""

_JS = """
const MANIFEST = JSON.parse(document.getElementById('manifest').textContent);
function sel(name){
  document.querySelectorAll('.node').forEach(g=>g.classList.toggle('sel', g.dataset.name===name));
  const n = Object.values(MANIFEST.nodes).find(x=>x.name===name);
  if(!n) return;
  let h = `<h1>${n.name}</h1><div class="kind">${n.resource_type} · ${n.materialized||''}</div>`;
  if(n.tags.length) h += '<div>'+n.tags.map(t=>`<span class="tag">${t}</span>`).join('')+'</div>';
  if(n.description) h += `<p>${n.description}</p>`;
  if(n.depends_on.length) h += '<h2>depends on</h2>'+n.depends_on.map(d=>`<div><a href="#" onclick="sel('${d}');return false">${d}</a></div>`).join('');
  if(n.columns) h += '<h2>columns</h2><table><tr><th>name</th><th>type</th></tr>'+
    Object.entries(n.columns).map(([c,t])=>`<tr><td>${c}</td><td>${t}</td></tr>`).join('')+'</table>';
  h += '<h2>config</h2><pre>'+JSON.stringify(n.config,null,1)+'</pre>';
  document.getElementById('side').innerHTML = h;
}
"""


def _layout(project: "Project") -> tuple[dict[str, tuple[int, int]], int, int]:
    """Topological column layout: x = DAG depth (the scheduler's wave
    index), y = position within the column."""
    levels = project._toposort_levels(set(project.nodes))
    pos: dict[str, tuple[int, int]] = {}
    max_rows = 1
    for col, level in enumerate(levels):
        for row, name in enumerate(sorted(level)):
            x = _PAD + col * (_NODE_W + _GAP_X)
            y = _PAD + row * (_NODE_H + _GAP_Y)
            pos[name] = (x, y)
        max_rows = max(max_rows, len(level))
    width = _PAD * 2 + max(len(levels), 1) * (_NODE_W + _GAP_X) - _GAP_X
    height = _PAD * 2 + max_rows * (_NODE_H + _GAP_Y) - _GAP_Y
    return pos, width, height


def _svg(project: "Project") -> str:
    pos, width, height = _layout(project)
    parts = [
        f'<svg width="{width}" height="{height}" '
        f'xmlns="http://www.w3.org/2000/svg">'
    ]
    # Edges under nodes: cubic bezier from parent right edge to child left.
    for name, node in project.nodes.items():
        x1, y1 = pos[name]
        for dep in sorted(node.depends_on):
            if dep not in pos:
                continue
            x0, y0 = pos[dep]
            sx, sy = x0 + _NODE_W, y0 + _NODE_H / 2
            ex, ey = x1, y1 + _NODE_H / 2
            mx = (sx + ex) / 2
            parts.append(
                f'<path class="edge" d="M{sx},{sy} C{mx},{sy} {mx},{ey} {ex},{ey}"/>'
            )
    for name, node in project.nodes.items():
        x, y = pos[name]
        color = _KIND_COLOR.get(node.kind, "#c0caf5")
        label = html.escape(name if len(name) <= 24 else name[:23] + "…")
        parts.append(
            f'<g class="node" data-name="{html.escape(name)}" '
            f'onclick="sel(\'{html.escape(name)}\')">'
            f'<rect x="{x}" y="{y}" width="{_NODE_W}" height="{_NODE_H}" '
            f'fill="{color}" fill-opacity="0.35"/>'
            f'<text x="{x + 8}" y="{y + _NODE_H / 2 + 4}">{label}</text></g>'
        )
    parts.append("</svg>")
    return "".join(parts)


def write_docs_site(project: "Project", out_dir: str) -> str:
    """Generate ``index.html`` (plus the manifest.json / catalog.json
    artifacts) under ``out_dir``; returns the index path."""
    os.makedirs(out_dir, exist_ok=True)
    manifest_path = os.path.join(out_dir, "manifest.json")
    project.write_manifest(manifest_path)
    from py4j.protocol import Py4JError
    from pyspark.errors import PySparkException

    try:
        project.write_catalog(os.path.join(out_dir, "catalog.json"))
    except (Py4JError, PySparkException):
        pass  # catalog requires a live session with materialized relations

    with open(manifest_path) as f:
        manifest = json.load(f)
    # The JS keys nodes by short name; enrich each entry with it.
    for uid, entry in manifest["nodes"].items():
        entry["name"] = uid.rsplit(".", 1)[-1]

    page = (
        "<!doctype html><html><head><meta charset='utf-8'>"
        f"<title>{html.escape(project.name)} — lineage</title>"
        f"<style>{_CSS}</style></head><body>"
        f"<div id='side'><h1>{html.escape(project.name)}</h1>"
        f"<p>{len(manifest['nodes'])} nodes · run_date "
        f"{html.escape(str(project.run_date))}</p>"
        "<p>Click a node for details.</p></div>"
        f"<div id='main'>{_svg(project)}</div>"
        "<script id='manifest' type='application/json'>"
        + json.dumps(manifest).replace("</", "<\\/")
        + f"</script><script>{_JS}</script></body></html>"
    )
    index = os.path.join(out_dir, "index.html")
    with open(index, "w") as f:
        f.write(page)
    return index
