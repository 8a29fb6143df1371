"""WebUI SPA shell tests (reference: src/webui/frontend — React SPA;
here a single self-contained document served by ``WebSPA``): the shell
serves on every page path so hash deep-links resolve, the JSON API is
mounted under /api/ through the same app, the embedded client targets
exactly the reference endpoint set, and ``get_data`` carries the
reference-parity ``connector_specs`` list (src/connectors/__init__.py:
65-77) the Connectors route keys its Create-vs-Next flow off."""

from __future__ import annotations

import io
import json

from snowalert_spark.rules import RuleRegistry
from snowalert_spark.webui import WebApi
from snowalert_spark.webui_spa import _SHELL, WebSPA

SECRET = "s3cret"


def call(app, method, path, body=None, sid=SECRET, query=""):
    raw = json.dumps(body).encode() if body is not None else b""
    environ = {
        "REQUEST_METHOD": method,
        "PATH_INFO": path,
        "QUERY_STRING": query,
        "CONTENT_LENGTH": str(len(raw)),
        "HTTP_COOKIE": f"sid={sid}" if sid is not None else "",
        "wsgi.input": io.BytesIO(raw),
    }
    captured = {}

    def start_response(status, headers):
        captured["status"] = status
        captured["headers"] = dict(headers)

    out = b"".join(app(environ, start_response))
    return captured["status"], captured["headers"], out


def _app(**kw):
    return WebSPA(WebApi(RuleRegistry(), secret=SECRET, **kw))


def test_shell_serves_on_every_page_path():
    app = _app()
    for path in ("/", "/app", "/app/", "/dashboard/alerts", "/anything"):
        status, headers, body = call(app, "GET", path)
        assert status == "200 OK"
        assert headers["Content-Type"].startswith("text/html")
        assert b"spa-root" in body  # the one shell document every time
    status, _, _ = call(app, "POST", "/app")
    assert status.startswith("405")


def test_api_mounted_through_spa():
    app = _app()
    status, headers, body = call(app, "GET", "/api/sa/rules")
    assert status == "200 OK"
    assert headers["Content-Type"] == "application/json"
    assert json.loads(body) == {"rules": []}

    ddl = (
        "CREATE OR REPLACE VIEW rules.SPA_SMOKE_ALERT_QUERY COPY GRANTS\n"
        "  COMMENT='spa smoke\n  @id spa1'\nAS\nSELECT 'u' AS actor"
    )
    _, _, body = call(app, "POST", "/api/sa/rules",
                      {"title": "SPA_SMOKE", "target": "ALERT",
                       "type": "QUERY", "body": ddl})
    assert json.loads(body)["success"] is True
    _, _, body = call(app, "GET", "/api/sa/rules", query="target=ALERT")
    titles = [r["title"] for r in json.loads(body)["rules"]]
    assert "SPA_SMOKE" in titles


def test_shell_targets_reference_endpoint_set():
    """The embedded client must speak to the same endpoints the reference
    SPA's api.ts does — no second data path, no phantom routes."""
    for endpoint in (
        "/api/sa/rules",
        "/api/sa/rules/delete",
        "/api/sa/rules/rename",
        "/api/sa/data",
        "/api/sa/data/connectors/",
    ):
        assert endpoint in _SHELL
    # the five menu routes of common/menu.ts plus login
    for route in ("#/connectors", "#/baselines", "#/alerts",
                  "#/violations", "#/policies", "#/login"):
        assert route in _SHELL


def test_get_data_connector_specs():
    class FakeConnector:
        """fake connector module"""
        CONNECTION_OPTIONS = [
            {"name": "subdomain", "title": "Account", "type": "str",
             "required": True},
            {"name": "api_key", "type": "str", "secret": True},
        ]

        @staticmethod
        def connect(name, options):
            return {"newStage": "finalize"}

        @staticmethod
        def finalize(name):
            return {"newStage": "finalized"}

    class PlainConnector:
        """no finalize/test stages"""
        CONNECTION_OPTIONS = [{"name": "url", "type": "str"}]

        @staticmethod
        def connect(name, options):
            return {}

    app = _app(connectors={"fake": FakeConnector, "plain": PlainConnector})
    _, _, body = call(app, "GET", "/api/sa/data")
    data = json.loads(body)
    specs = {s["connector"]: s for s in data["connector_specs"]}
    assert specs["fake"]["finalize"] is True
    assert specs["fake"]["test"] is False
    assert specs["plain"]["finalize"] is False
    assert specs["fake"]["options"][1]["secret"] is True
    assert specs["fake"]["docstring"] == "fake connector module"
    # the original name -> options map shape survives beside the specs
    assert data["connectors"]["plain"] == PlainConnector.CONNECTION_OPTIONS


# ---------------------------------------------------------------------------
# executable-JS smoke: run the embedded client in node (stub DOM + real
# fetch against an in-process wsgiref server) and drive every route the
# reference SPA has — skipped when no node runtime is on PATH.
# ---------------------------------------------------------------------------

_NODE_HARNESS = """
import {readFileSync} from 'fs';
const BASE = process.argv[2];
const realFetch = globalThis.fetch;
globalThis.fetch = (path, opts) => realFetch(BASE + path, {
  ...opts, headers: {...(opts && opts.headers), Cookie: 'sid=s3cret'}});
const elements = {};
function getEl(id) {
  if (!elements[id]) elements[id] = {
    id, innerHTML: '', value: '', disabled: false, dataset: {}, onclick: null};
  return elements[id];
}
globalThis.document = {getElementById: getEl, querySelectorAll: () => [],
                       cookie: ''};
globalThis.window = {addEventListener: () => {}};
globalThis.location = {hash: '#/alerts'};
globalThis.prompt = () => null;
globalThis.confirm = () => false;
const src = readFileSync(process.argv[3], 'utf8') + '\\nglobalThis.__route = route;';
(0, eval)(src.replace('"use strict";', ''));
const view = () => (elements['view'] || {innerHTML: ''}).innerHTML;
const html = (id) => (elements[id] || {innerHTML: ''}).innerHTML;
const assert = (c, m) => { if (!c) { console.error('FAIL: ' + m); process.exit(1); } };
// poll-wait: fixed sleeps are flaky when the suite runs in parallel
async function until(cond, m, ms = 15000) {
  const t0 = Date.now();
  while (!cond()) {
    if (Date.now() - t0 > ms) { console.error('FAIL: ' + m); process.exit(1); }
    await new Promise(r => setTimeout(r, 50));
  }
}

globalThis.location.hash = '#/alerts'; __route();
await until(() => view().includes('SPA_E2E'), 'alerts lists the query');
globalThis.location.hash = '#/alerts/SPA_E2E_ALERT_QUERY'; __route();
await until(() => html('editor').includes('r-body'), 'editor rendered');
await until(() => html('editor').includes('actor'), 'editor body has SQL');
globalThis.location.hash = '#/violations'; __route();
await until(() => view().includes('Dashboard') || view().includes('rules loaded'), 'violations renders');
globalThis.location.hash = '#/policies'; __route();
await until(() => view().includes('no policy definitions') || view().includes('card'), 'policies renders');
globalThis.location.hash = '#/baselines'; __route();
await until(() => view().includes('bl_smoke'), 'baselines listed');
globalThis.location.hash = '#/connectors/fake_api'; __route();
await until(() => html('conn-card').includes('Next'), 'finalize connector shows Next');
getEl('conn-name').value = 'smoke';
globalThis.document.querySelectorAll = (sel) => sel === '[data-opt]'
  ? [{value: 'acme', dataset: {opt: 'subdomain'}}] : [];
await elements['conn-create'].onclick();
await until(() => html('conn-out').includes('finalize'), 'connect response shown');
await elements['conn-finalize'].onclick();
await until(() => html('conn-out').includes('finalized'), 'finalize response shown');
globalThis.location.hash = '#/alerts/%2BQUERY'; __route();
await until(() => elements['r-save'] && elements['r-save'].onclick, 'draft editor rendered');
getEl('r-title').value = 'SPA_NEW';
getEl('r-body').value = "SELECT 'y' AS actor";
await elements['r-save'].onclick();
const rules = await (await fetch('/api/sa/rules?target=ALERT')).json();
assert(rules.rules.some(r => r.title === 'SPA_NEW'), 'editor save persisted');
console.log('SPA_SMOKE_OK');
"""


def test_spa_client_executes_every_route(tmp_path):
    import re
    import shutil
    import subprocess
    import threading
    import wsgiref.simple_server

    import pytest

    node = shutil.which("node")
    if node is None:
        pytest.skip("no node runtime on PATH")

    class FakeConnector:
        """fake connector"""
        CONNECTION_OPTIONS = [
            {"name": "subdomain", "title": "Account", "type": "str",
             "required": True}]

        @staticmethod
        def connect(name, options):
            return {"newStage": "finalize"}

        @staticmethod
        def finalize(name):
            return {"newStage": "finalized"}

    reg = RuleRegistry()
    reg.create("SPA_E2E_ALERT_QUERY", sql="SELECT 'u' AS actor",
               comment="spa e2e")
    api = WebApi(reg, secret=SECRET, connectors={"fake_api": FakeConnector},
                 baselines={"bl_smoke": []})

    class Quiet(wsgiref.simple_server.WSGIRequestHandler):
        def log_message(self, *a):  # noqa: D102 — silence per-request lines
            pass

    srv = wsgiref.simple_server.make_server(
        "127.0.0.1", 0, WebSPA(api), handler_class=Quiet)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        js = re.search(r"<script>\n(.*)</script>", _SHELL, re.S).group(1)
        (tmp_path / "spa.js").write_text(js)
        (tmp_path / "smoke.mjs").write_text(_NODE_HARNESS)
        out = subprocess.run(
            [node, str(tmp_path / "smoke.mjs"),
             f"http://127.0.0.1:{srv.server_port}", str(tmp_path / "spa.js")],
            capture_output=True, text=True, timeout=120)
        assert out.returncode == 0, out.stderr + out.stdout
        assert "SPA_SMOKE_OK" in out.stdout
    finally:
        srv.shutdown()


def test_serve_webui_cli_target():
    """`python -m snowalert_spark.run webui` analog (reference: ./run
    webui → webui/app.py): serve_webui builds the app over a live
    registry + default connector set and serves the SPA shell and its
    JSON API over real HTTP."""
    import threading
    import urllib.request

    from snowalert_spark.run import serve_webui

    reg = RuleRegistry()
    reg.create("CLI_SMOKE_ALERT_QUERY", sql="SELECT 'u' AS actor",
               comment="cli smoke")
    srv = serve_webui(None, reg, host="127.0.0.1", port=0, secret=SECRET,
                      serve=False)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{srv.server_port}"
        page = urllib.request.urlopen(f"{base}/", timeout=10).read()
        assert b"spa-root" in page
        req = urllib.request.Request(
            f"{base}/api/sa/rules?target=ALERT",
            headers={"Cookie": f"sid={SECRET}"})
        rules = json.loads(urllib.request.urlopen(req, timeout=10).read())
        assert [r["title"] for r in rules["rules"]] == ["CLI_SMOKE"]
        # the default connector set exposes okta with its options
        data = json.loads(urllib.request.urlopen(
            f"{base}/api/sa/data", timeout=10).read())
        assert "okta" in data["connectors"]
        assert any(s["connector"] == "okta"
                   for s in data["connector_specs"])
    finally:
        srv.shutdown()
