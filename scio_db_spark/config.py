"""Multi-env typed configuration (SURVEY.md §2.10).

Mirrors the reference's pureconfig stack
(``utils/pureconfig/RootPureConfig.scala:11-66``,
``mediation/configs/package.scala:10-48``): a HOCON config with one
root key per environment (``local/test/dev/uat/prod``), loadable from
DEFAULT (packaged resource), STRING (raw text, e.g. fetched from an
object store — the GCS override path of RootPureConfig.scala:58-64),
FILE, or ENV (environment variables, the SYSTEMPROPERTIES analogue),
materialized into typed dataclasses.

The parser implements the HOCON subset the reference's configs use:
nested objects, ``=``/``:`` separators, ``//`` and ``#`` comments,
quoted/unquoted scalars, and ``${a.b.c}`` substitutions including
adjacent-value string concatenation (``"x"${ref}"y"``). It is
dependency-free by design (no pyhocon in the runtime image).
"""

from __future__ import annotations

import os
import re
import typing
from dataclasses import dataclass, field, fields, is_dataclass
from enum import Enum
from typing import Any


class ConfigSource(Enum):
    """PureConfigSourceEnum analogue (RootPureConfig.scala:16-35)."""

    DEFAULT = "default"
    STRING = "string"
    FILE = "file"
    ENV = "env"


class ConfigEnv(Enum):
    """PureConfigEnvEnum analogue (env roots, RootPureConfig.scala:45-55)."""

    local = "local"
    test = "test"
    dev = "dev"
    uat = "uat"
    prod = "prod"


class ConfigError(ValueError):
    """PureConfigException analogue: malformed or missing config."""


# ------------------------------------------------------------------ parser


_TOKEN_RE = re.compile(
    r"""
    (?P<comment>//[^\n]*|\#[^\n]*)
  | (?P<lbrace>\{)
  | (?P<rbrace>\})
  | (?P<lbracket>\[)
  | (?P<rbracket>\])
  | (?P<sep>[=:])
  | (?P<subst>\$\{[^}]+\})
  | (?P<string>"(?:[^"\\]|\\.)*")
  | (?P<newline>\n)
  | (?P<comma>,)
  | (?P<ws>[ \t\r]+)
  | (?P<bare>[^\s={},:"\#\[\]]+)
    """,
    re.VERBOSE,
)


class _Subst:
    def __init__(self, path: str):
        self.path = path

    def __repr__(self):
        return f"${{{self.path}}}"


def _unquote(token: str) -> str:
    """Full JSON-style unescaping of a quoted string token — \\n, \\t,
    \\\\, \\uXXXX, not just \\\" (a password like "p\\\\wd" must bind
    to the same bytes pureconfig would produce). Falls back to the
    minimal form for any sequence json rejects."""
    import json as _json

    try:
        return _json.loads(token)
    except ValueError:
        return token[1:-1].replace('\\"', '"')


def _tokenize(text: str) -> list:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if m is None:
            raise ConfigError(f"bad config syntax at offset {pos}")
        pos = m.end()
        kind = m.lastgroup
        if kind in ("comment", "ws"):
            continue
        if kind in ("lbracket", "rbracket"):
            # Arrays are OUTSIDE this HOCON subset (no config field
            # needs one). Without dedicated tokens, `a = [1, 2]` used
            # to tokenize into garbage keys ('a'='[1', '2'='') and
            # ship silently misbound — reject loudly instead.
            raise ConfigError(
                "HOCON arrays are not supported by this config subset "
                f"(offset {m.start()}); use a comma-separated string — "
                "and quote any bare value that merely CONTAINS '[' or "
                "']' (e.g. a regex: pattern = \"[a-z]+\")"
            )
        if kind == "comma":
            # HOCON: comma is an element separator equivalent to a
            # newline. Folding it into bare tokens would silently turn
            # `a = 1,` into the string "1," (and reject inline
            # `{ a = 1, b = 2 }` objects).
            out.append(("newline", "\n"))
            continue
        out.append((kind, m.group()))
    return out


def _coerce_scalar(raw: str) -> Any:
    if raw in ("true", "yes", "on"):
        return True
    if raw in ("false", "no", "off"):
        return False
    if raw in ("null", "~"):
        return None
    try:
        return int(raw)
    except ValueError:
        pass
    try:
        return float(raw)
    except ValueError:
        pass
    return raw


def _deep_merge(base: dict, new: dict) -> dict:
    """HOCON duplicate-key semantics: objects merge field-wise at every
    depth; a shallow ``dict.update`` would let a re-opened block (the
    STRING-source override use case) wipe sibling nested objects."""
    for k, v in new.items():
        if isinstance(v, dict) and isinstance(base.get(k), dict):
            _deep_merge(base[k], v)
        else:
            base[k] = v
    return base


def _parse_object(tokens: list, i: int, closing: bool) -> tuple[dict, int]:
    obj: dict[str, Any] = {}
    while i < len(tokens):
        kind, val = tokens[i]
        if kind == "newline":
            i += 1
            continue
        if kind == "rbrace":
            if not closing:
                raise ConfigError("unexpected '}'")
            return obj, i + 1
        if kind not in ("bare", "string"):
            raise ConfigError(f"expected key, got {val!r}")
        key = _unquote(val) if kind == "string" else val
        i += 1
        # key { ... }  (no separator) or key = value / key : value
        kind2, _val2 = tokens[i] if i < len(tokens) else ("eof", "")
        if kind2 == "sep":
            i += 1
            kind2, _val2 = tokens[i] if i < len(tokens) else ("eof", "")
        if kind2 == "lbrace":
            nested, i = _parse_object(tokens, i + 1, True)
            base = obj.get(key)
            if isinstance(base, dict):
                _deep_merge(base, nested)  # HOCON object merge is RECURSIVE
            else:
                obj[key] = nested
            continue
        # value: sequence of scalar/subst parts until newline/rbrace
        parts: list[tuple[str, Any]] = []
        while i < len(tokens):
            k3, v3 = tokens[i]
            if k3 in ("newline", "rbrace"):
                break
            if k3 == "string":
                parts.append(("string", _unquote(v3)))
            elif k3 == "subst":
                parts.append(("subst", _Subst(v3[2:-1].strip())))
            elif k3 == "bare":
                parts.append(("bare", v3))
            else:
                raise ConfigError(f"unexpected {v3!r} in value for {key}")
            i += 1
        if len(parts) == 1:
            kind1, v = parts[0]
            # Only BARE tokens are type-coerced; quoted stay strings.
            obj[key] = _coerce_scalar(v) if kind1 == "bare" else v
        elif all(k in ("string", "bare") for k, _ in parts):
            obj[key] = " ".join(v for _, v in parts)
        else:
            obj[key] = [v for _, v in parts]  # mixed concat, resolved later
    if closing:
        raise ConfigError("missing '}'")
    return obj, i


def _lookup(root: dict, path: str) -> Any:
    cur: Any = root
    for part in path.split("."):
        if not isinstance(cur, dict) or part not in cur:
            raise ConfigError(f"unresolved substitution ${{{path}}}")
        cur = cur[part]
    return cur


def _resolve(node: Any, root: dict) -> Any:
    if isinstance(node, dict):
        return {k: _resolve(v, root) for k, v in node.items()}
    if isinstance(node, _Subst):
        return _resolve(_lookup(root, node.path), root)
    if isinstance(node, list):
        resolved = [_resolve(p, root) for p in node]
        return "".join(str(p) for p in resolved)
    return node


def parse_hocon(text: str) -> dict:
    """Parse the supported HOCON subset into a plain dict."""
    tokens = _tokenize(text)
    obj, _ = _parse_object(tokens, 0, False)
    return _resolve(obj, obj)


# ------------------------------------------------------------- typed tree


@dataclass
class EndpointConfig:
    """mediation/configs/package.scala Endpoint (application.conf:44-51)."""

    url: str = "localhost"
    domain: str = "/posts"
    full_url: str = ""
    cert_enabled: bool = False
    username: str = ""
    password: str = ""


@dataclass
class SinkThrottleConfig:
    """Akka pool/throttle analogue (application.conf:22-31) — W11.

    Field names mirror the conf keys exactly (kebab→snake), so every
    packaged value binds.
    """

    initial_timeout: int = 30
    throttle_requests: int = 1000
    throttle_per_second: int = 1


@dataclass
class MediationConfig:
    """mediation/configs/package.scala:10-48 analogue."""

    version: str = "0.0.1"
    retry_notifications: bool = True
    initial_load_bers_days: int = 0
    ber_window: int = 60
    ttl_time: int = 120
    endpoint: EndpointConfig = field(default_factory=EndpointConfig)
    akka: SinkThrottleConfig = field(default_factory=SinkThrottleConfig)


@dataclass
class RootConfig:
    gcs_bucket: str = ""
    mediation: MediationConfig = field(default_factory=MediationConfig)


def _kebab_to_snake(k: str) -> str:
    return k.replace("-", "_")


def _to_dataclass(cls, data: dict):
    if not is_dataclass(cls):
        return data
    # PEP 563: field types are strings under `from __future__ import
    # annotations` — resolve them to real classes.
    hints = typing.get_type_hints(cls)
    kwargs = {}
    names = {f.name for f in fields(cls)}
    for k, v in data.items():
        name = _kebab_to_snake(k)
        if name not in names:
            continue  # unknown keys ignored (pureconfig default)
        ftype = hints.get(name)
        if is_dataclass(ftype):
            kwargs[name] = _to_dataclass(ftype, v if isinstance(v, dict) else {})
        else:
            kwargs[name] = v
    return cls(**kwargs)


_DEFAULT_RESOURCE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "resources", "application.conf"
)


def read_config(
    env: ConfigEnv | str,
    source: ConfigSource = ConfigSource.DEFAULT,
    path_or_raw: str | None = None,
    cls=RootConfig,
):
    """RootPureConfig.readConfigFromEnv analogue.

    - DEFAULT: packaged ``resources/application.conf``
    - STRING: ``path_or_raw`` is the raw HOCON text (e.g. fetched from
      an object store — the config-from-GCS override)
    - FILE: ``path_or_raw`` is a filesystem path
    - ENV: flat environment variables ``<ENV>__A__B=value`` (double
      underscore as the path separator)
    """
    env_key = env.value if isinstance(env, ConfigEnv) else str(env)
    if env_key not in ConfigEnv.__members__:
        raise ConfigError(f"unknown config env root {env_key!r}")

    if source == ConfigSource.DEFAULT:
        with open(_DEFAULT_RESOURCE, encoding="utf-8") as fh:
            tree = parse_hocon(fh.read())
    elif source == ConfigSource.STRING:
        if path_or_raw is None:
            raise ConfigError("STRING source requires raw config text")
        tree = parse_hocon(path_or_raw)
    elif source == ConfigSource.FILE:
        if path_or_raw is None:
            raise ConfigError("FILE source requires a path")
        with open(path_or_raw, encoding="utf-8") as fh:
            tree = parse_hocon(fh.read())
    elif source == ConfigSource.ENV:
        prefix = f"{env_key.upper()}__"
        tree = {env_key: {}}
        # Sorted for deterministic conflict detection: one var naming
        # a PREFIX of another (PROD__MEDIATION=x next to
        # PROD__MEDIATION__TTL=300) is a contradiction — previously it
        # either crashed with a raw TypeError or silently dropped a
        # whole subtree depending on os.environ iteration order.
        for k, v in sorted(os.environ.items()):
            if not k.startswith(prefix):
                continue
            cur = tree[env_key]
            parts = [p.lower().replace("_", "-") for p in
                     k[len(prefix):].split("__")]
            for p in parts[:-1]:
                cur = cur.setdefault(p, {})
                if not isinstance(cur, dict):
                    raise ConfigError(
                        f"env var {k} descends into {p!r}, which "
                        "another env var already set to a scalar"
                    )
            if isinstance(cur.get(parts[-1]), dict):
                raise ConfigError(
                    f"env var {k} sets a scalar over the object that "
                    "other env vars built under the same path"
                )
            cur[parts[-1]] = _coerce_scalar(v)
    else:
        raise ConfigError(f"unknown source {source!r}")

    if env_key not in tree:
        raise ConfigError(f"config has no {env_key!r} root")
    return _to_dataclass(cls, tree[env_key])


def read_config_with_override(
    env: ConfigEnv | str,
    raw_override: str | None,
    cls=RootConfig,
):
    """readConfigFromGcsOrResources analogue
    (RootPureConfig.scala:58-64): use the raw override when present,
    fall back to the packaged default."""
    if raw_override is not None:
        return read_config(env, ConfigSource.STRING, raw_override, cls)
    return read_config(env, ConfigSource.DEFAULT, cls=cls)
