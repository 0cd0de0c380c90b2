"""Seeded OSW archive generator for the benchmark.

Writes one deflated ZIP per seed holding all seven OSW kinds
(nodes, edges, points, lines, polygons, zones and one extension file),
plus the entries the loader must skip: a ``__MACOSX/`` resource-fork
decoy and a non-GeoJSON ``README.txt``. Coordinates mix 2D and 3D leaves,
zero Z, null geometry and features that already carry ``ext:elevation``.

The program under test receives only the ZIP. The returned manifest holds
what the checks need: per-kind feature counts, the uncompressed GeoJSON
bytes, and one probe feature per kind with its expected transform.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import zipfile

#: kind -> (entry name inside the archive, geometry type)
KIND_ENTRIES = {
    "nodes": ("osw/city.nodes.geojson", "Point"),
    "edges": ("osw/city.edges.geojson", "LineString"),
    "points": ("osw/city.points.geojson", "Point"),
    "lines": ("osw/city.lines.geojson", "LineString"),
    "polygons": ("osw/city.polygons.geojson", "Polygon"),
    "zones": ("osw/city.zones.geojson", "MultiPolygon"),
    # routes by default: the name matches none of the six kind substrings
    "extension": ("osw/city.amenities.geojson", "Point"),
}

#: kind -> feature count (2,000 features per archive)
COUNTS = {
    "nodes": 800, "edges": 600, "points": 150, "lines": 150,
    "polygons": 100, "zones": 100, "extension": 100,
}

#: kinds whose first Z becomes an ``ext:elevation`` property
ELEVATION_KINDS = ("nodes", "points")


def _leaf(rng: random.Random, z: float | None) -> list[float]:
    x = round(rng.uniform(-122.5, -122.2), 6)
    y = round(rng.uniform(47.5, 47.7), 6)
    return [x, y] if z is None else [x, y, z]


def _z(rng: random.Random, i: int) -> float | None:
    """Mix per feature: 2D, zero Z (means "no elevation") and real Z."""
    r = i % 5
    if r == 0:
        return None
    if r == 1:
        return 0.0
    return round(rng.uniform(1.0, 300.0), 2) if r != 4 else float(rng.randint(1, 300))


def _coords(rng: random.Random, gtype: str, z: float | None):
    if gtype == "Point":
        return _leaf(rng, z)
    if gtype == "LineString":
        # second leaf always 2D: mixed arity inside one geometry
        return [_leaf(rng, z), _leaf(rng, None), _leaf(rng, z)]
    ring = [_leaf(rng, z) for _ in range(3)]
    ring.append(list(ring[0]))
    if gtype == "Polygon":
        return [ring]
    return [[ring]]  # MultiPolygon


def _feature(rng: random.Random, kind: str, gtype: str, i: int) -> dict:
    props: dict = {"_id": f"{kind}-{i}", "highway": rng.choice(("footway", "crossing", None))}
    if i % 7 == 3:
        props["ext:elevation"] = 12  # pre-existing key -> ext:elevation_1
    if i % 97 == 50:
        return {"type": "Feature", "geometry": None, "properties": props}
    return {
        "type": "Feature",
        "geometry": {"type": gtype, "coordinates": _coords(rng, gtype, _z(rng, i))},
        "properties": props,
    }


def _probe(kind: str, gtype: str, feature: dict) -> dict:
    """Expected output of the transform for ``feature`` (index 2: a 3D
    feature with a non-zero Z and no pre-existing elevation key)."""

    def strip(c):
        return [strip(x) for x in c] if isinstance(c[0], list) else c[:2]

    coords = feature["geometry"]["coordinates"]
    leaf = coords
    while isinstance(leaf[0], list):
        leaf = leaf[0]
    return {
        "id": feature["properties"]["_id"],
        "coordinates": strip(coords),
        "elevation": leaf[2] if kind in ELEVATION_KINDS else None,
    }


def build_archive(path: str, seed: int) -> dict:
    """Write the archive for ``seed`` to ``path``; return its manifest."""
    rng = random.Random(seed)
    manifest: dict = {"counts": dict(COUNTS), "input_bytes": 0, "probes": {}}
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w", compression=zipfile.ZIP_DEFLATED, compresslevel=6) as zf:
        for kind, (entry, gtype) in KIND_ENTRIES.items():
            feats = [_feature(rng, kind, gtype, i) for i in range(COUNTS[kind])]
            manifest["probes"][kind] = _probe(kind, gtype, feats[2])
            doc = {"type": "FeatureCollection", "name": kind, "features": feats}
            text = json.dumps(doc, separators=(",", ":"))
            manifest["input_bytes"] += len(text.encode())
            zf.writestr(entry, text)
        # skipped entries: resource-fork decoy (its name routes to nodes)
        # and a non-GeoJSON file
        zf.writestr("__MACOSX/osw/._city.nodes.geojson", b"\x00\x05\x16\x07" * 64)
        zf.writestr("osw/README.txt", "OpenSidewalks export\n")
    os.replace(tmp, path)
    return manifest


def cached_archive(cache_dir: str, seed: int) -> tuple[str, dict]:
    """Build (or reuse) the archive for ``seed`` under ``cache_dir``. The
    file name holds a hash of this file, so a changed generator never
    reuses an archive an older one wrote."""
    os.makedirs(cache_dir, exist_ok=True)
    with open(__file__, "rb") as fh:
        key = hashlib.sha1(fh.read()).hexdigest()[:12]
    zpath = os.path.join(cache_dir, f"osw_{seed}-{key}.zip")
    mpath = f"{zpath}.json"
    if os.path.exists(zpath) and os.path.exists(mpath):
        with open(mpath) as fh:
            return zpath, json.load(fh)
    manifest = build_archive(zpath, seed)
    with open(mpath, "w") as fh:
        json.dump(manifest, fh)
    return zpath, manifest
