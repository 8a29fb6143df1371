"""WebUI SPA layer: a single-page app over the ``WebApi`` JSON endpoints
(reference: src/webui/frontend — a React/antd SPA; routes in
common/menu.ts + common/router.ts are dashboard/{connectors,baselines,
alerts,violations,policies} and login; Alerts.tsx/Violations.tsx mount
RulesTree + rule editors with +QUERY / +SUPPRESSION buttons,
Policies.tsx renders pass/fail subpolicy tables, Connectors.tsx drives
the connect→finalize→test flow keyed off each connector's ``finalize``
flag, api.ts points every call at /api/sa/*).

This is the same presentation layer re-expressed without npm/webpack:
one self-contained HTML document (embedded CSS + vanilla-JS hash
router, zero dependencies) that talks to the very same JSON API the
reference SPA calls — ``GET/POST /api/sa/rules``, ``/api/sa/rules/
{delete,rename}``, ``GET /api/sa/data``, ``POST /api/sa/data/
connectors/<connector>/<name>[/finalize|/test]``. All rendering and
routing happen client-side (hash routes, so the server serves ONE
document); auth is the same ``sid`` cookie the API checks.

Serve with::

    from wsgiref.simple_server import make_server
    api = WebApi(registry, secret="...", spark=spark, connectors=...)
    make_server("", 8000, WebSPA(api)).serve_forever()

``WebSPA`` mounts the JSON API under ``/api/`` and serves the app
shell everywhere else, so deep links (``/app/#/alerts/FOO_ALERT_QUERY``)
always resolve.
"""

from __future__ import annotations

from snowalert_spark.webui import WebApi

# ---------------------------------------------------------------------------
# the app shell: embedded stylesheet + hash-routed vanilla JS.
# Route table mirrors frontend/src/common/menu.ts (Connectors, Baselines,
# Alerts, Violations, Policies + login); per-route render functions mirror
# the reference route components named in the comments below.
# ---------------------------------------------------------------------------

_SHELL = """<!doctype html>
<html><head><meta charset="utf-8">
<meta name="viewport" content="width=device-width,initial-scale=1">
<title>SnowAlert</title>
<style>
:root{--ink:#222;--bg:#f4f5f7;--line:#dde2e8;--head:#1d2733;--acc:#4a9eda}
*{box-sizing:border-box}
body{font-family:sans-serif;margin:0;background:var(--bg);color:var(--ink)}
nav{background:var(--head);padding:0 16px;display:flex;align-items:center}
nav .brand{color:#fff;font-weight:bold;padding:12px 14px 12px 0}
nav a{color:#cfd8e3;display:inline-block;padding:12px 14px;text-decoration:none}
nav a.active{color:#fff;border-bottom:2px solid var(--acc)}
main{max-width:1100px;margin:20px auto;padding:0 16px}
.row{display:flex;gap:16px;align-items:flex-start}
.tree{flex:0 0 280px}
.body{flex:1;min-width:0}
.card{background:#fff;border:1px solid var(--line);padding:12px 16px;margin-bottom:12px}
.card h3{margin:4px 0 10px}
table{border-collapse:collapse;width:100%;background:#fff}
th,td{border:1px solid var(--line);padding:6px 10px;text-align:left;vertical-align:top;font-size:14px}
th{background:#eef1f5}
pre{white-space:pre-wrap;margin:0;font-size:12px}
textarea{width:100%;min-height:260px;font-family:monospace;font-size:13px}
input[type=text],input[type=password]{width:100%;padding:5px 8px;margin:2px 0 8px;border:1px solid var(--line)}
button{cursor:pointer;padding:6px 12px;border:1px solid var(--acc);background:var(--acc);color:#fff;border-radius:3px}
button.ghost{background:#fff;color:var(--acc)}
button.danger{background:#c0392b;border-color:#c0392b}
ul.rules{list-style:none;margin:0;padding:0}
ul.rules li{padding:4px 6px;cursor:pointer;border-radius:3px;overflow:hidden;text-overflow:ellipsis;white-space:nowrap}
ul.rules li.sel{background:#e2eefb;color:#1d5e93}
.flash{padding:8px 12px;margin-bottom:12px;background:#e7f4e4;border:1px solid #9fd18e}
.flash.err{background:#fae7e7;border-color:#d89f9f}
.muted{color:#777;font-size:12px}
.pass{color:#1d7a34;font-weight:bold}.fail{color:#c0392b;font-weight:bold}
.spin{color:#777;padding:20px}
</style></head><body>
<nav><span class="brand">SnowAlert</span><span id="nav"></span></nav>
<main><div id="flash"></div><div id="view" data-testid="spa-root"><div class="spin">loading…</div></div></main>
<script>
"use strict";
/* ---- tiny helpers ----------------------------------------------------- */
const $ = (id) => document.getElementById(id);
const esc = (s) => String(s ?? "").replace(/[&<>"']/g,
  (c) => ({"&":"&amp;","<":"&lt;",">":"&gt;",'"':"&quot;","'":"&#39;"}[c]));
const wireNav = () => document.querySelectorAll("li[data-nav]").forEach(
  (el) => el.addEventListener("click", () => { location.hash = el.dataset.nav; }));
async function api(path, body) {               // frontend/src/api.ts
  const opts = body === undefined ? {} : {
    method: "POST",
    headers: {"Content-Type": "application/json"},
    body: JSON.stringify(body),
  };
  const res = await fetch(path, opts);
  return res.json();
}
function flash(msg, err) {
  $("flash").innerHTML = msg
    ? `<div class="flash${err ? " err" : ""}">${esc(msg)}</div>` : "";
}

/* ---- hash router (common/router.ts) ----------------------------------- */
const MENU = [                                  // common/menu.ts order
  ["#/connectors", "Data Connectors"],
  ["#/baselines", "Baselines"],
  ["#/alerts", "Alerts"],
  ["#/violations", "Violations"],
  ["#/policies", "Policies"],
  ["#/login", "Login"],
];
function route() {
  const h = location.hash || "#/alerts";
  const [, page, sel] = h.match(/^#\\/([a-z]+)\\/?(.*)$/) || [0, "alerts", ""];
  flash("");
  $("nav").innerHTML = MENU.map(([p, t]) =>
    `<a href="${p}" class="${p.slice(2) === page ? "active" : ""}">${t}</a>`
  ).join("");
  const views = {alerts: rulesView, violations: rulesView, policies: policiesView,
                 baselines: baselinesView, connectors: connectorsView, login: loginView};
  (views[page] || notFound)(page, decodeURIComponent(sel));
}
window.addEventListener("hashchange", route);

/* ---- alerts / violations dashboards (Alerts.tsx, Violations.tsx,
        components/RulesTree + RuleEditors/RawEditor) ------------------- */
async function rulesView(page, sel) {
  const target = page === "alerts" ? "ALERT" : "VIOLATION";
  $("view").innerHTML = '<div class="spin">loading rules…</div>';
  const data = await api(`/api/sa/rules?target=${target}`);
  const rules = data.rules || [];
  const queries = rules.filter((r) => r.type === "QUERY");
  const suppressions = rules.filter((r) => r.type === "SUPPRESSION");
  const selRule = rules.find((r) => `${r.title}_${r.target}_${r.type}` === sel)
    || (sel === "+QUERY" && {title: "", target, type: "QUERY", body: "", draft: 1})
    || (sel === "+SUPPRESSION" && {title: "", target, type: "SUPPRESSION", body: "", draft: 1});
  // nav targets ride a data attribute + addEventListener, never an
  // inline handler attribute: encodeURIComponent leaves ' ( )
  // unescaped, so a name inside a quoted inline-JS string is one
  // naming-rule relaxation away from DOM XSS (r11 advice)
  const li = (r) => {
    const vn = `${r.title}_${r.target}_${r.type}`;
    return `<li class="${vn === sel ? "sel" : ""}"
      data-nav="${esc(`#/${page}/${encodeURIComponent(vn)}`)}">${esc(r.title)}</li>`;
  };
  $("view").innerHTML = `
  <div class="row">
    <div class="tree">
      <div class="card"><h3>Queries</h3><ul class="rules">${queries.map(li).join("")}</ul></div>
      <div class="card"><h3>Suppressions</h3><ul class="rules">${suppressions.map(li).join("")}</ul></div>
    </div>
    <div class="body"><div class="card">
      <h3>${selRule ? (selRule.draft ? "New rule" : esc(selRule.title)) : esc(target[0] + target.slice(1).toLowerCase()) + "s Dashboard"}</h3>
      <p>
        <button onclick="location.hash='#/${page}/%2BQUERY'">+ QUERY</button>
        <button onclick="location.hash='#/${page}/%2BSUPPRESSION'">+ SUPPRESSION</button>
      </p>
      <div id="editor"></div>
    </div></div>
  </div>`;
  wireNav();
  if (selRule) editor(page, selRule);
  else $("editor").innerHTML =
    `<p class="muted">${rules.length} rules loaded — select one to edit,` +
    ` or create a new QUERY / SUPPRESSION.</p>`;
}

function editor(page, r) {                      // RuleEditors/RawEditor.tsx
  $("editor").innerHTML = `
    <label>Title <input type="text" id="r-title" value="${esc(r.title)}"></label>
    <label>Body<br><textarea id="r-body">${esc(r.body)}</textarea></label>
    <p>
      <button id="r-save">Save</button>
      ${r.draft ? "" : `<button class="ghost" id="r-rename">Rename…</button>
      <button class="danger" id="r-delete">Delete</button>`}
      <span class="muted">${esc(r.target)}_${esc(r.type)}</span>
    </p>`;
  const ident = {title: r.title, target: r.target, type: r.type};
  $("r-save").onclick = async () => {
    const out = await api("/api/sa/rules", {
      ...ident, title: $("r-title").value.trim(), body: $("r-body").value,
    });
    flash(out.success ? "saved" : out.message || "save failed", !out.success);
    if (out.success) location.hash =
      `#/${page}/${encodeURIComponent(`${$("r-title").value.trim()}_${r.target}_${r.type}`)}`;
  };
  if (r.draft) return;
  $("r-rename").onclick = async () => {
    const newTitle = prompt("New title", r.title);
    if (!newTitle || newTitle === r.title) return;
    const out = await api("/api/sa/rules/rename", {...ident, newTitle});
    flash(out.success ? "renamed" : out.message || "rename failed", !out.success);
    if (out.success) location.hash =
      `#/${page}/${encodeURIComponent(`${newTitle}_${r.target}_${r.type}`)}`;
  };
  $("r-delete").onclick = async () => {
    if (!confirm(`delete ${r.title}?`)) return;
    const out = await api("/api/sa/rules/delete", ident);
    flash(out.success ? "deleted" : out.message || "delete failed", !out.success);
    if (out.success) location.hash = `#/${page}`;
  };
}

/* ---- policies (Policies.tsx: per-policy card, subpolicy pass/fail) ---- */
async function policiesView() {
  $("view").innerHTML = '<div class="spin">loading policies…</div>';
  const data = await api("/api/sa/rules?target=POLICY&type=DEFINITION");
  const cards = (data.rules || []).map((r) => {
    const rows = (r.results || []).map((row) => {
      const ok = row.PASSING ?? row.passing;
      return `<tr><td>${esc(row.TITLE ?? row.title ?? "")}</td>
        <td class="${ok ? "pass" : "fail"}">${ok ? "✓ passing" : "✗ failing"}</td></tr>`;
    }).join("");
    return `<div class="card"><h3>${esc(r.title)}</h3>
      ${rows ? `<table><tr><th>Subpolicy</th><th>Status</th></tr>${rows}</table>`
             : '<p class="muted">no results (no Spark session attached)</p>'}
      <details><summary class="muted">definition SQL</summary>
      <pre>${esc(r.body)}</pre></details></div>`;
  });
  $("view").innerHTML = cards.join("") ||
    '<div class="card"><p class="muted">no policy definitions</p></div>';
}

/* ---- baselines (Baselines.tsx over /api/sa/data) ----------------------- */
async function baselinesView() {
  $("view").innerHTML = '<div class="spin">loading…</div>';
  const data = await api("/api/sa/data");
  const rows = Object.entries(data.baselines || {}).map(([name, opts]) =>
    `<tr><td>${esc(name)}</td><td><pre>${esc(JSON.stringify(opts, null, 1))}</pre></td></tr>`
  ).join("");
  $("view").innerHTML = `<div class="card"><h3>Baselines</h3>
    ${rows ? `<table><tr><th>Baseline</th><th>Options</th></tr>${rows}</table>`
           : '<p class="muted">no baselines registered</p>'}</div>`;
}

/* ---- connectors (Connectors.tsx: options form; Create vs Next keyed on
        the finalize flag; then finalize + test) ------------------------- */
async function connectorsView(page, sel) {
  $("view").innerHTML = '<div class="spin">loading…</div>';
  const data = await api("/api/sa/data");
  const specs = data.connector_specs ||
    Object.entries(data.connectors || {}).map(([connector, options]) =>
      ({connector, options, finalize: false, test: false, docstring: ""}));
  const spec = specs.find((s) => s.connector === sel);
  const li = (s) =>
    `<li class="${s.connector === sel ? "sel" : ""}"
      data-nav="${esc(`#/connectors/${encodeURIComponent(s.connector)}`)}">${esc(s.connector)}</li>`;
  $("view").innerHTML = `
  <div class="row">
    <div class="tree"><div class="card"><h3>Connectors</h3>
      <ul class="rules">${specs.map(li).join("")}</ul></div></div>
    <div class="body"><div class="card" id="conn-card">
      <p class="muted">select a connector to configure a new connection</p>
    </div></div>
  </div>`;
  wireNav();
  if (!spec) return;
  const fields = (spec.options || []).map((o) => `
    <label>${esc(o.title || o.name)}${o.required ? " *" : ""}
      <input type="${o.secret ? "password" : "text"}" data-opt="${esc(o.name)}"
             value="${esc(o.default ?? "")}" placeholder="${esc(o.prompt || "")}">
    </label>`).join("");
  $("conn-card").innerHTML = `
    <h3>${esc(spec.connector)}</h3>
    ${spec.docstring ? `<p class="muted">${esc(spec.docstring)}</p>` : ""}
    <label>Connection name <input type="text" id="conn-name" value="default"></label>
    ${fields}
    <p>
      <button id="conn-create">${spec.finalize ? "Next" : "Create"}</button>
      ${spec.finalize ? '<button class="ghost" id="conn-finalize" disabled>Finalize</button>' : ""}
      ${spec.test ? '<button class="ghost" id="conn-test" disabled>Test</button>' : ""}
    </p>
    <div id="conn-out"></div>`;
  const name = () => encodeURIComponent($("conn-name").value.trim() || "default");
  const show = (out) => {
    $("conn-out").innerHTML = `<pre>${esc(JSON.stringify(out, null, 1))}</pre>`;
    flash(out.success === false ? (out.errorMessage || out.message || "failed") : "ok",
          out.success === false);
  };
  $("conn-create").onclick = async () => {
    const options = {};
    document.querySelectorAll("[data-opt]").forEach((i) => {
      if (i.value !== "") options[i.dataset.opt] = i.value;
    });
    const out = await api(
      `/api/sa/data/connectors/${encodeURIComponent(spec.connector)}/${name()}`, options);
    show(out);
    if (out.success !== false) {
      const f = $("conn-finalize"); if (f) f.disabled = false;
      const t = $("conn-test"); if (t) t.disabled = false;
    }
  };
  if (spec.finalize) $("conn-finalize").onclick = async () => show(await api(
    `/api/sa/data/connectors/${encodeURIComponent(spec.connector)}/${name()}/finalize`, {}));
  if (spec.test) $("conn-test").onclick = async () => show(await api(
    `/api/sa/data/connectors/${encodeURIComponent(spec.connector)}/${name()}/test`, {}));
}

/* ---- login (routes/User/Login.tsx — sid cookie the API checks) --------- */
function loginView() {
  $("view").innerHTML = `<div class="card" style="max-width:420px">
    <h3>Login</h3>
    <label>sid <input type="password" id="login-sid"></label>
    <p><button id="login-go">Sign in</button></p>
    <p class="muted">the sid is compared against the server secret on every
    mutating API call; it is stored only as a cookie</p></div>`;
  $("login-go").onclick = () => {
    document.cookie =
      `sid=${encodeURIComponent($("login-sid").value)}; path=/; SameSite=Lax`;
    location.hash = "#/alerts";
  };
}

function notFound() {                           // routes/Exception/404
  $("view").innerHTML =
    '<div class="card"><h3>404</h3><p class="muted">no such page</p></div>';
}

route();
</script></body></html>
"""


class WebSPA:
    """WSGI app: the SPA shell + the JSON API mounted under ``/api/``.

    Single-document app — every non-API GET serves the same shell so
    hash deep-links work; non-GET to a page path is a 405.
    """

    def __init__(self, api: WebApi):
        self.api = api

    def __call__(self, environ, start_response):
        path = environ.get("PATH_INFO", "") or "/"
        if path.startswith("/api/"):
            return self.api(environ, start_response)
        if environ["REQUEST_METHOD"].upper() != "GET":
            start_response("405 Method Not Allowed", [("Allow", "GET")])
            return [b""]
        data = _SHELL.encode()
        start_response(
            "200 OK",
            [("Content-Type", "text/html; charset=utf-8"),
             ("Content-Length", str(len(data))),
             ("Cache-Control", "no-store")],
        )
        return [data]
