"""``cache.cached_dir``, the one build path for fixture-derived
directories: keyed on the source tables' identity plus a builder tag,
built once, published atomically, and never left half-built.  No Spark
session: small stand-in ``*.parquet`` files are enough for the key."""

from __future__ import annotations

import os
import tempfile
from pathlib import Path

import pytest

from cdc_extractor_spark import cache


@pytest.fixture
def fixture_dir(tmp_path, monkeypatch) -> str:
    # cached dirs land under the temp dir: point it at this test's own
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()
    sf = tmp_path / "sf"
    sf.mkdir()
    for t in ("customer", "orders"):
        (sf / f"{t}.parquet").write_bytes(f"stand-in {t}".encode())
    return str(sf)


def _counting_build(calls: list[str]):
    def build(staging: str) -> None:
        calls.append(staging)
        Path(staging, "part-0").write_text("built")

    return build


def _published(prefix: str) -> list[str]:
    return sorted(
        n for n in os.listdir(tempfile.gettempdir()) if n.startswith(prefix)
    )


def test_second_call_does_not_build(fixture_dir):
    calls: list[str] = []
    build = _counting_build(calls)
    first = cache.cached_dir("cdcx_t", fixture_dir, ("customer",), "x", build)
    second = cache.cached_dir("cdcx_t", fixture_dir, ("customer",), "x", build)
    assert first == second
    assert len(calls) == 1
    assert Path(first, "part-0").read_text() == "built"
    assert _published("cdcx_t") == [os.path.basename(first)]


def test_key_follows_tag_and_every_source_mtime(fixture_dir):
    calls: list[str] = []
    build = _counting_build(calls)
    tables = ("customer", "orders")
    base = cache.cached_dir("cdcx_t", fixture_dir, tables, "n8", build)
    other_tag = cache.cached_dir("cdcx_t", fixture_dir, tables, "n4", build)
    st = os.stat(os.path.join(fixture_dir, "orders.parquet"))
    os.utime(
        os.path.join(fixture_dir, "orders.parquet"),
        ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000),
    )
    touched = cache.cached_dir("cdcx_t", fixture_dir, tables, "n8", build)
    assert len({base, other_tag, touched}) == 3
    assert len(calls) == 3
    assert cache.fixture_key(fixture_dir, tables, "n8") == (
        os.path.basename(touched).removeprefix("cdcx_t_")
    )


def test_failed_build_publishes_nothing(fixture_dir):
    def build(staging: str) -> None:
        Path(staging, "part-0").write_text("half")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        cache.cached_dir("cdcx_t", fixture_dir, ("customer",), "x", build)
    assert _published("cdcx_t") == []
    # the next call builds from scratch
    calls: list[str] = []
    d = cache.cached_dir(
        "cdcx_t", fixture_dir, ("customer",), "x", _counting_build(calls)
    )
    assert len(calls) == 1 and _published("cdcx_t") == [os.path.basename(d)]


def test_lost_publish_race_serves_the_winner(fixture_dir):
    def build(staging: str) -> None:
        Path(staging, "part-0").write_text("loser")
        # a concurrent build publishes first
        dest = staging.split(".tmp.")[0]
        os.makedirs(dest)
        Path(dest, "part-0").write_text("winner")

    d = cache.cached_dir("cdcx_t", fixture_dir, ("customer",), "x", build)
    assert Path(d, "part-0").read_text() == "winner"
    assert _published("cdcx_t") == [os.path.basename(d)]


def test_only_cache_py_keys_or_places_derived_artifacts():
    """Keying a derived artifact on a fixture and placing it under the
    temp dir are ``cache.py``'s decisions alone: a second copy of the
    rule elsewhere in the package is how keys drift."""
    pkg = Path(__file__).resolve().parent.parent / "cdc_extractor_spark"
    owner = pkg / "cache.py"
    inside, outside = [], []
    for path in sorted(pkg.rglob("*.py")):
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if any(
                w in line for w in ("hashlib", "st_mtime_ns", "gettempdir(")
            ):
                (inside if path == owner else outside).append(
                    f"{path.relative_to(pkg)}:{no}"
                )
    assert inside
    assert outside == []
