"""WebUI HTTP API: plain-WSGI endpoints over the rule registry and
connector lifecycle (reference: src/webui/backend/webui/api/rules.py
and api/data.py — Flask blueprints over warehouse DDL; here the same
routes, request/response shapes, auth gate and error contracts over
RuleRegistry / sources.config, with no web-framework dependency).

Auth matches the reference: a ``sid`` cookie compared against the
configured secret with ``hmac.compare_digest`` (rules.py:27-28). A bad
sid on GET /rules returns an empty listing; on mutations it returns
``{"success": false, "message": "bad sid", ...}`` — byte-compatible
with the frontend's expectations.

The app is a standard WSGI callable: serve it with
``wsgiref.simple_server.make_server`` for a live instance, or invoke
it directly in tests. Spark is injected (not constructed) so the API
layer stays a thin protocol adapter; policy-definition listings run
through it when present (rules.py:55-60's results field).
"""

from __future__ import annotations

import hmac
import json
import re
from urllib.parse import parse_qs

from snowalert_spark.rules import RULE_SUFFIXES, RuleRegistry
from snowalert_spark.sources import config as connector_config

_SUFFIX_RE = re.compile(
    "_(alert|violation|policy)_(query|suppression|definition)$", re.I
)
# webui/api/rules.py:81-87: the frontend may send a full CREATE
# statement; peel the envelope down to comment + body
_CREATE_LINE_RE = re.compile(r"^CREATE [^\n]+\n", re.I)
_COMMENT_RE = re.compile(r"^  COMMENT='((?:\\'|[^'])*)'\nAS\n")


def _like_to_re(pattern: str) -> str:
    return re.escape(pattern).replace("%", ".*").replace("_", ".")


class WebApi:
    """WSGI app mounting the reference's /api/sa/rules and
    /api/sa/data routes over an in-process registry."""

    def __init__(
        self,
        registry: RuleRegistry | None = None,
        secret: str = "",
        spark=None,
        connectors: dict | None = None,
        baselines: dict | None = None,
        encrypt=None,
        oauth: "OAuthBroker | None" = None,
    ):
        self.registry = registry if registry is not None else RuleRegistry()
        self.secret = secret
        self.spark = spark
        self.connectors = connectors or {}
        self.baselines = baselines or {}
        self.encrypt = encrypt
        self.oauth = oauth

    # ---- WSGI plumbing ---------------------------------------------------
    def __call__(self, environ, start_response):
        method = environ["REQUEST_METHOD"].upper()
        path = environ.get("PATH_INFO", "")
        try:
            status, payload = self._route(method, path, environ)
        except Exception as e:  # noqa: BLE001 — data.py:40-45 jsonified
            status, payload = "200 OK", {
                "success": False,
                "errorMessage": f"{type(e).__name__}: {e}",
            }
        body = json.dumps(payload, default=str).encode()
        start_response(
            status,
            [("Content-Type", "application/json"),
             ("Content-Length", str(len(body)))],
        )
        return [body]

    def _route(self, method, path, environ):
        qs = parse_qs(environ.get("QUERY_STRING", ""))
        if path in ("/api/sa/rules", "/api/sa/rules/"):
            if method == "GET":
                return "200 OK", self.get_rules(
                    environ,
                    rule_type=qs.get("type", ["%"])[0],
                    rule_target=qs.get("target", ["%"])[0],
                )
            if method == "POST":
                return "200 OK", self.create_rule(environ, self._json(environ))
        if path == "/api/sa/rules/delete" and method == "POST":
            return "200 OK", self.delete_rule(environ, self._json(environ))
        if path == "/api/sa/rules/rename" and method == "POST":
            return "200 OK", self.rename_rule(environ, self._json(environ))
        if path in ("/api/sa/data", "/api/sa/data/") and method == "GET":
            return "200 OK", self.get_data(environ)
        if path == "/api/oauth/redirect" and method == "POST":
            if self.oauth is None:
                raise RuntimeError("oauth is not configured")
            return "200 OK", self.oauth.redirect(self._json(environ))
        if path == "/api/oauth/return" and method == "POST":
            if self.oauth is None:
                raise RuntimeError("oauth is not configured")
            return "200 OK", self.oauth.exchange(self._json(environ))
        m = re.match(
            r"^/api/sa/data/connectors/(\w+)/(\w+)(/finalize|/test)?$", path
        )
        if m and method == "POST":
            connector, name, action = m.groups()
            if action == "/finalize":
                return "200 OK", self.connector_finalize(environ, connector, name)
            if action == "/test":
                return "200 OK", self.connector_test(environ, connector, name)
            return "200 OK", self.connector_connect(
                environ, connector, name, self._json(environ)
            )
        return "404 Not Found", {"success": False, "message": "not found"}

    def _json(self, environ) -> dict:
        try:
            n = int(environ.get("CONTENT_LENGTH") or 0)
        except ValueError:
            n = 0
        raw = environ["wsgi.input"].read(n) if n else b"{}"
        return json.loads(raw or b"{}")

    def _sid_ok(self, environ) -> bool:
        # fail closed: an unset secret must not mean "empty sid
        # authenticates" — mutation endpoints stay locked until the
        # operator configures one
        if not self.secret:
            return False
        cookies = environ.get("HTTP_COOKIE", "")
        sid = ""
        for part in cookies.split(";"):
            k, _, v = part.strip().partition("=")
            if k == "sid":
                sid = v
        return hmac.compare_digest(sid, self.secret)

    # ---- /api/sa/rules (webui/api/rules.py:26-178) -----------------------
    def get_rules(self, environ, rule_type="%", rule_target="%") -> dict:
        if not self._sid_ok(environ):
            return {"rules": []}
        pat = re.compile(
            f".*_{_like_to_re(rule_target.upper())}_{_like_to_re(rule_type.upper())}$"
        )
        rules = []
        for name, rule in self.registry.rules.items():
            if not pat.match(name):
                continue
            if not any(name.endswith(s) for s in RULE_SUFFIXES):
                continue  # rules.py:62 is_valid_rule_name gate
            rules.append({
                "title": _SUFFIX_RE.sub("", name),
                "target": name.split("_")[-2].upper(),
                "type": name.split("_")[-1].upper(),
                "body": rule.sql,
                "results": (
                    [r.asDict() for r in rule.df(self.spark).collect()]
                    if name.endswith("_POLICY_DEFINITION") and self.spark
                    else None
                ),
            })
        return {"rules": rules}

    def _peel_body(self, body: str) -> tuple[str, str]:
        body = _CREATE_LINE_RE.sub("", body)
        m = _COMMENT_RE.match(body)
        if m:
            return m.group(1).replace("\\'", "'"), body[m.span()[1]:]
        return "", body

    def create_rule(self, environ, data: dict) -> dict:
        if not self._sid_ok(environ):
            return {"success": False, "message": "bad sid", "rule": {}}
        comment, body = self._peel_body(data["body"])
        view_name = f"{data['title']}_{data['target']}_{data['type']}".upper()
        try:
            rule = self.registry.create(view_name, sql=body, comment=comment)
            if self.spark is not None:
                rule.df(self.spark)  # analyze now: surface SQL errors here
            data["results"] = (
                [r.asDict() for r in rule.df(self.spark).collect()]
                if view_name.endswith("_POLICY_DEFINITION") and self.spark
                else None
            )
        except Exception as e:  # noqa: BLE001 — rules.py:113-115
            self.registry.rules.pop(view_name, None)
            return {"success": False, "message": str(e), "rule": data}
        return {"success": True, "rule": data}

    def delete_rule(self, environ, data: dict) -> dict:
        if not self._sid_ok(environ):
            return {"success": False, "message": "bad sid", "rule": {}}
        view_name = f"{data['title']}_{data['target']}_{data['type']}".upper()
        try:
            self.registry.drop(view_name)
        except Exception as e:  # noqa: BLE001
            return {"success": False, "message": str(e), "rule": data}
        return {"success": True, "view_name": view_name, "rule": data}

    def rename_rule(self, environ, data: dict) -> dict:
        if not self._sid_ok(environ):
            return {"success": False, "message": "bad sid", "rule": {}}
        old = f"{data['title']}_{data['target']}_{data['type']}".upper()
        new = f"{data['newTitle']}_{data['target']}_{data['type']}".upper()
        try:
            self.registry.rename(old, new)
        except Exception as e:  # noqa: BLE001
            return {"success": False, "message": str(e), "rule": data}
        return {"success": True, "rule": data}

    # ---- /api/sa/data (webui/api/data.py:50-116) -------------------------
    def get_data(self, environ) -> dict:
        # ``connectors`` keeps the original name -> options map shape;
        # ``connector_specs`` mirrors the reference payload the
        # SPA consumes — one entry per connector with its options, the
        # module docstring, and whether finalize/test stages exist
        # (reference: src/connectors/__init__.py:65-77 builds the same
        # list, frontend Connectors.tsx:195-211 keys the Create-vs-Next
        # button off the ``finalize`` flag).
        return {
            "success": True,
            "connectors": {
                name: getattr(mod, "CONNECTION_OPTIONS", [])
                for name, mod in self.connectors.items()
            },
            "connector_specs": [
                {
                    "connector": name,
                    "options": getattr(mod, "CONNECTION_OPTIONS", []),
                    "docstring": (mod.__doc__ or "").strip(),
                    "finalize": callable(getattr(mod, "finalize", None)),
                    "test": callable(getattr(mod, "test", None)),
                }
                for name, mod in self.connectors.items()
            ],
            "baselines": self.baselines,
        }

    def _module(self, connector: str):
        if connector not in self.connectors:
            raise KeyError(f"no such connector {connector!r}")
        return self.connectors[connector]

    def connector_connect(self, environ, connector, name, options) -> dict:
        # sid-gated like the rule mutations: the reference gates every
        # data.py route with cache_oauth_connection (r11 advice — these
        # POSTs configure/execute connectors, the most sensitive
        # surface here)
        if not self._sid_ok(environ):
            return {"success": False, "message": "bad sid"}
        mod = self._module(connector)
        out = connector_config.configure(mod, name, options, self.encrypt)
        out.setdefault("success", True)
        return out

    def connector_finalize(self, environ, connector, name) -> dict:
        if not self._sid_ok(environ):
            return {"success": False, "message": "bad sid"}
        mod = self._module(connector)
        if not hasattr(mod, "finalize"):
            raise RuntimeError(f"connector {connector!r} has no finalize step")
        out = mod.finalize(name)
        out.setdefault("success", True)
        return out

    def connector_test(self, environ, connector, name) -> dict:
        if not self._sid_ok(environ):
            return {"success": False, "message": "bad sid"}
        mod = self._module(connector)
        if not hasattr(mod, "test"):
            raise RuntimeError(f"connector {connector!r} has no test hook")
        return {"success": True, "results": list(mod.test(name))}


class OAuthBroker:
    """Generic OAuth2 authorization-code broker (reference:
    src/webui/backend/webui/api/oauth.py — the same two-step flow,
    warehouse-specific URLs generalized to injectable templates).

    ``clients`` maps an account slug to ``(client_id, client_secret)``
    (the reference reads OAUTH_CLIENT_<ACCOUNT>/OAUTH_SECRET_<ACCOUNT>
    env pairs); ``authorize_url``/``token_url`` are ``{account}``
    templates; ``post`` is the injectable token-request transport
    ``(url, basic_auth_tuple, form_dict) -> dict``.
    """

    def __init__(
        self,
        clients: dict[str, tuple[str, str]],
        authorize_url: str,
        token_url: str,
        post,
        default_role: str | None = None,
    ):
        self.clients = clients
        self.authorize_url = authorize_url
        self.token_url = token_url
        self.post = post
        self.default_role = default_role

    def _client(self, account: str) -> tuple[str, str]:
        # oauth.py:30-32: the account slug is the part before the first dot
        return self.clients.get(account.partition(".")[0].upper(), ("", ""))

    def redirect(self, data: dict) -> dict:
        """oauth.py:22-48: build the authorize URL the frontend sends
        the user to; a role adds a session:role scope."""
        from urllib.parse import urlencode

        account = data["account"]
        role = data.get("role") or self.default_role
        scope = "refresh_token" + (f" session:role:{role.upper()}" if role else "")
        client_id, _ = self._client(account)
        return {
            "url": self.authorize_url.format(account=account)
            + "?"
            + urlencode({
                "client_id": client_id,
                "response_type": "code",
                "scope": scope,
                "redirect_uri": data.get("returnHref"),
            })
        }

    def exchange(self, data: dict) -> dict:
        """oauth.py:51-76: trade the authorization code for tokens via
        basic-authed form POST to the token endpoint."""
        account = data["account"]
        client_id, secret = self._client(account)
        tokens = self.post(
            self.token_url.format(account=account),
            (client_id, secret),
            {
                "grant_type": "authorization_code",
                "redirect_uri": data.get("redirectUri"),
                "code": data.get("code"),
            },
        )
        return {"tokens": tokens}
