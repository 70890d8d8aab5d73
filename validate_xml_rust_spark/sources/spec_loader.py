"""Spec loading: local file / remote URL fetch with retry + TTL disk cache.

Driver-side machinery mirroring the reference's schema acquisition stack —
deliberately NOT distributed, because a spec is fetched once per run and
broadcast into the plan (SURVEY.md S6: "driver-side fetch, then broadcast;
NOT per-row network I/O"):

- source-type classification: http(s) → remote, else local path
  (P2, reference src/schema_loader.rs:142-154),
- remote fetch with bounded retries + exponential backoff capped
  (F7, src/http_client.rs:102-151, 170-174),
- local async read → plain read (S7, src/schema_loader.rs:202-231),
- content sanity check before compiling (P4,
  src/schema_loader.rs:256-283): UTF-8, JSON-parses, has spec_id +
  constraints — the "is this actually an XSD" check transposed to the
  engine's JSON spec format,
- two-tier cache: in-process dict (L1) + content-addressed disk files
  with TTL metadata sidecars (L2) — get repopulates L1 from L2
  (J2/S9/X3, src/cache.rs:371-500; expiry predicate P5
  src/cache.rs:102-104; key generation F5 src/cache.rs:148-156),
- cache stats (A7, src/cache.rs:215-233).
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field
from hashlib import sha256
from pathlib import Path

from validate_xml_rust_spark.specs import Spec, spec_from_dict


class SpecLoadError(Exception):
    """Typed load failure (NotFound / network / invalid content)."""


def classify_source(url: str) -> str:
    """P2: 'remote' for http(s)://, else 'local'."""
    return "remote" if url.lower().startswith(("http://", "https://")) else "local"


def validate_spec_content(raw: bytes) -> dict:
    """P4 sanity predicate before compile: UTF-8 decodable, JSON object,
    carries spec_id + a constraints list. Raises SpecLoadError otherwise
    (the reference rejects non-UTF-8 / non-XML / non-XSD content)."""
    try:
        text = raw.decode("utf-8")
    except UnicodeDecodeError as e:
        raise SpecLoadError(f"spec content is not valid UTF-8: {e}") from e
    stripped = text.lstrip()
    if not stripped.startswith("{"):
        raise SpecLoadError("spec content does not look like a JSON object")
    try:
        d = json.loads(stripped)
    except json.JSONDecodeError as e:
        raise SpecLoadError(f"spec content is not valid JSON: {e}") from e
    if "spec_id" not in d or "constraints" not in d:
        raise SpecLoadError("spec JSON missing required keys: spec_id, constraints")
    return d


def fetch_remote(
    url: str,
    timeout_s: float = 10.0,
    max_retries: int = 3,
    base_delay_s: float = 0.25,
    max_delay_s: float = 4.0,
    _opener=None,
) -> bytes:
    """S6: GET with retry + exponential backoff ``min(cap, base·2^attempt)``
    (exact backoff shape of src/http_client.rs:170-174). ``_opener`` is a
    test seam (callable url→bytes)."""
    attempt = 0
    while True:
        try:
            if _opener is not None:
                return _opener(url)
            with urllib.request.urlopen(url, timeout=timeout_s) as r:  # noqa: S310
                return r.read()
        except Exception as e:  # urllib.error.URLError, timeout, ...
            attempt += 1
            if attempt > max_retries:
                raise SpecLoadError(f"failed to fetch {url} after {max_retries} retries: {e}") from e
            time.sleep(min(max_delay_s, base_delay_s * (2 ** (attempt - 1))))


def read_local(path: str) -> bytes:
    """S7: local read; NotFound → typed error."""
    p = Path(path)
    if not p.exists():
        raise SpecLoadError(f"spec file not found: {path}")
    return p.read_bytes()


def cache_key(url: str) -> str:
    """F5: deterministic content-addressed key (hex)."""
    return "spec_" + sha256(url.encode("utf-8")).hexdigest()[:32]


@dataclass
class SpecCache:
    """Two-tier TTL cache for raw spec bytes (L1 memory, L2 disk).

    Mirrors src/cache.rs: get checks memory → disk (repopulating memory)
    → miss; set writes both tiers; entries expire after ``ttl_s``
    (``expires_at`` in the metadata sidecar, compared against now — P5)."""

    cache_dir: str
    ttl_s: float = 3600.0
    _mem: dict[str, tuple[bytes, float]] = field(default_factory=dict)
    hits: int = 0
    misses: int = 0

    def _paths(self, key: str) -> tuple[Path, Path]:
        d = Path(self.cache_dir)
        return d / key, d / (key + ".meta.json")

    def get(self, url: str) -> bytes | None:
        key = cache_key(url)
        now = time.time()
        ent = self._mem.get(key)
        if ent and ent[1] > now:
            self.hits += 1
            return ent[0]
        blob_p, meta_p = self._paths(key)
        if blob_p.exists() and meta_p.exists():
            meta = json.loads(meta_p.read_text())
            if meta["expires_at"] > now:
                raw = blob_p.read_bytes()
                self._mem[key] = (raw, meta["expires_at"])  # repopulate L1
                self.hits += 1
                return raw
        self.misses += 1
        return None

    def set(self, url: str, raw: bytes) -> None:
        key = cache_key(url)
        expires = time.time() + self.ttl_s
        self._mem[key] = (raw, expires)
        d = Path(self.cache_dir)
        d.mkdir(parents=True, exist_ok=True)
        blob_p, meta_p = self._paths(key)
        blob_p.write_bytes(raw)
        meta_p.write_text(
            json.dumps(
                {
                    "key": key,
                    "url": url,
                    "created_at": time.time(),
                    "expires_at": expires,
                    "size_bytes": len(raw),
                }
            )
        )

    def cleanup_expired(self) -> int:
        """Remove expired entries from both tiers; returns removed count."""
        now = time.time()
        removed = 0
        self._mem = {k: v for k, v in self._mem.items() if v[1] > now}
        d = Path(self.cache_dir)
        if d.exists():
            for meta_p in d.glob("*.meta.json"):
                meta = json.loads(meta_p.read_text())
                if meta["expires_at"] <= now:
                    (d / meta["key"]).unlink(missing_ok=True)
                    meta_p.unlink(missing_ok=True)
                    removed += 1
        return removed

    def stats(self) -> dict:
        """A7: entry counts + sizes + hit rate."""
        d = Path(self.cache_dir)
        disk = list(d.glob("*.meta.json")) if d.exists() else []
        total = self.hits + self.misses
        return {
            "memory_entries": len(self._mem),
            "disk_entries": len(disk),
            "disk_bytes": sum(
                json.loads(p.read_text())["size_bytes"] for p in disk
            ),
            "hit_rate": (self.hits / total) if total else 0.0,
            "hits": self.hits,
            "misses": self.misses,
        }


def load_spec(
    url: str,
    cache: SpecCache | None = None,
    _opener=None,
) -> Spec:
    """Resolve → fetch (cache-aware) → sanity-check → parse. The "compile
    once" step then happens in SpecRegistry.compiled(), which compiles
    each distinct spec once per SparkContext (memoized on its content)."""
    raw = cache.get(url) if cache else None
    if raw is None:
        if classify_source(url) == "remote":
            raw = fetch_remote(url, _opener=_opener)
        else:
            raw = read_local(url)
        if cache:
            cache.set(url, raw)
    return spec_from_dict(validate_spec_content(raw))
