"""Per-catalog typed configuration registry.

PySpark-native re-expression of the reference's config layer:

- ``V2SqlConf`` (conf/V2SqlConf.scala:10-90) — typed ``ConfigEntry``
  registry keyed by catalog type, with ``folk()`` producing a cloned conf
  carrying per-call overrides on top of the registered defaults.
- ``ConfHelper`` (internal/ConfHelper.scala:9-49) — resolution of the
  per-catalog config file: a ``conf.path`` option pointing at a file (or a
  directory, to which the default file name is appended). The reference
  resolves ``hive-site.xml``; this engine resolves a JSON options file.

The registry is deliberately small: typed get/set with validation and
defaults, not Spark's full ConfigEntry machinery — the engine reads these
driver-side only (warehouse layout, write knobs), never on executors.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Any

_DEFAULT_CONF_FILE = "catalog-conf.json"


class ConfError(Exception):
    pass


@dataclass(frozen=True)
class ConfigEntry:
    """One typed entry ≈ the reference's ``ConfigEntry[T]`` registration
    (V2SqlConf.scala:24-60): key, python type, default, doc string."""

    key: str
    default: Any
    type: type = str
    doc: str = ""

    def coerce(self, value: Any) -> Any:
        if value is None:
            return self.default
        if self.type is bool:
            if isinstance(value, bool):
                return value
            s = str(value).strip().lower()
            if s in ("true", "1", "yes"):
                return True
            if s in ("false", "0", "no"):
                return False
            raise ConfError(f"{self.key}: not a boolean: {value!r}")
        try:
            return self.type(value)
        except (TypeError, ValueError) as exc:
            raise ConfError(
                f"{self.key}: expected {self.type.__name__}, got {value!r}"
            ) from exc


# catalog-type → {key → entry}, mirroring V2SqlConf's per-type registry
_REGISTRY: dict[str, dict[str, ConfigEntry]] = {}


def register_entry(catalog_type: str, entry: ConfigEntry) -> ConfigEntry:
    entries = _REGISTRY.setdefault(catalog_type, {})
    if entry.key in entries:
        raise ConfError(f"duplicate config entry: {catalog_type}/{entry.key}")
    entries[entry.key] = entry
    return entry


# The engine catalog's own typed entries (catalog type "engine"):
ENGINE_TYPE = "engine"
DYNAMIC_OVERWRITE = register_entry(
    ENGINE_TYPE,
    ConfigEntry("write.dynamic-overwrite", True, bool,
                "default overwrite mode for catalog inserts"),
)


@dataclass
class EngineConf:
    """Typed view over one catalog's options (reference ``V2SqlConf``).

    ``folk()`` clones the conf with per-call overrides layered on top —
    the reference uses this to give each operation an isolated conf
    (V2SqlConf.scala:62-71) without mutating the catalog-level one.
    """

    catalog_type: str = ENGINE_TYPE
    overrides: dict[str, Any] = field(default_factory=dict)

    @classmethod
    def from_options(cls, options: dict[str, Any]) -> "EngineConf":
        """The typed view of a catalog's options: registered keys become
        overrides; every other option (``conf.path``, …) stays untyped."""
        known = _REGISTRY[ENGINE_TYPE]
        return cls(overrides={k: v for k, v in options.items() if k in known})

    def _entry(self, key: str) -> ConfigEntry:
        try:
            return _REGISTRY[self.catalog_type][key]
        except KeyError:
            raise ConfError(
                f"unknown config entry {key!r} for catalog type "
                f"{self.catalog_type!r}"
            ) from None

    def get(self, key: str) -> Any:
        entry = self._entry(key)
        return entry.coerce(self.overrides.get(key, entry.default))

    def set(self, key: str, value: Any) -> None:
        self.overrides[key] = self._entry(key).coerce(value)

    def folk(self, **overrides: Any) -> "EngineConf":
        merged = dict(self.overrides)
        for k, v in overrides.items():
            merged[k] = self._entry(k).coerce(v)
        return EngineConf(self.catalog_type, merged)


def resolve_conf_file(options: dict[str, str]) -> dict[str, Any]:
    """Reference ``ConfHelper`` (internal/ConfHelper.scala:9-49): when the
    catalog options carry ``conf.path``, load additional options from that
    JSON file; a directory path gets the default file name appended.
    Explicitly-passed options win over file-loaded ones."""
    path = options.get("conf.path")
    if not path:
        return dict(options)
    if os.path.isdir(path):
        path = os.path.join(path, _DEFAULT_CONF_FILE)
    if not os.path.exists(path):
        raise ConfError(f"conf.path does not exist: {path}")
    with open(path) as f:
        loaded = json.load(f)
    if not isinstance(loaded, dict):
        raise ConfError(f"conf file must hold a JSON object: {path}")
    merged = dict(loaded)
    merged.update(options)
    return merged
