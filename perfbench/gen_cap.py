#!/usr/bin/env python3
"""Seeded CAP input generator for the ETL workloads.

An alert is either a clone of one of the fixtures/cap documents with a
rewritten identifier (30%), or a synthetic alert with 1-4 polygons of
16-512 vertices (39%), a circle (14%), no geometry (8%), or 1-4 polygons
and an expiry in the past (9%). Each alert carries what it must deliver at
the sink:

- a clone: its fixtures/golden/all-fixtures.json features, with the
  identifier substituted in `id` and in each link's `uid`;
- a synthetic alert: exactly the ids `id` or `id-i` per polygon plus a
  `-center` per polygon, one point for a circle or no geometry, nothing
  when expired.

Usage:
  python3 perfbench/gen_cap.py <seed>       property table of etl_batch_cpu's input
  python3 perfbench/gen_cap.py --selftest   same seed -> same bytes

Every run of the benchmark also prints its own input's table (`# inputs`).
"""
import hashlib
import json
import math
import os
import random
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(ROOT, "fixtures", "cap")
GOLDEN = os.path.join(ROOT, "fixtures", "golden", "all-fixtures.json")
AS_OF = "2026-08-12T00:00:00Z"

# profile -> polygon vertex range
PROFILES = {"batch": (16, 512), "stream": (16, 48)}
BATCH_ALERTS = 1000     # alerts in etl_batch_cpu's feed

EVENTS = [("Met", "rainfall"), ("Met", "wind"), ("Met", "snow"), ("Geo", "earthquake"),
          ("Geo", "tsunami"), ("Fire", "fire"), ("Safety", "civilEmergency")]
COLOURS = ["Yellow", "Orange", "Red"]
WORDS = "heavy rain wind gusts expected across the region avoid travel coastal low lying".split()

_ID_RE = re.compile(r"<identifier>([^<]*)</identifier>")


def load_fixtures():
    """[(name, xml text, identifier or None, golden features)] sorted by name."""
    golden = json.load(open(GOLDEN, encoding="utf-8"))["features"]
    out = []
    for name in sorted(os.listdir(FIXTURES)):
        if not name.endswith(".xml"):
            continue
        text = open(os.path.join(FIXTURES, name), encoding="utf-8").read()
        m = _ID_RE.search(text)
        ident = m.group(1) if m else None
        feats = [f for f in golden if ident is not None and
                 (f["id"] == ident or f["id"].startswith(ident + "-"))]
        out.append((name, text, ident, feats))
    return out


def _rename(value, old, new):
    return new + value[len(old):] if value == old or value.startswith(old + "-") else value


def clone_features(feats, old, new):
    """Golden features with identifier `old` substituted by `new`."""
    out = []
    for f in feats:
        f = json.loads(json.dumps(f))
        f["id"] = _rename(f["id"], old, new)
        for link in f["properties"].get("links", []):
            link["uid"] = _rename(link["uid"], old, new)
        out.append(f)
    return out


def _polygon(rng, n):
    lat0, lon0 = rng.uniform(-46.5, -35.0), rng.uniform(167.0, 178.0)
    r = rng.uniform(0.05, 0.6)
    pts = []
    for k in range(n):
        a = 6.283185307179586 * k / n
        rr = r * rng.uniform(0.7, 1.0)
        pts.append(f"{lat0 + rr * math.sin(a):.4f},{lon0 + rr * math.cos(a):.4f}")
    pts.append(pts[0])
    return " ".join(pts)


# Share of each alert kind. Every block of alerts (a stream tick, or the
# whole batch feed) holds these shares exactly and the polygon and vertex
# counts follow fixed low-discrepancy sequences, so two seeds differ in
# content and order but not in the amount of work they ask for.
KINDS = (("clone", 0.30), ("polygons", 0.39), ("circle", 0.14), ("expired", 0.09),
         ("none", 0.08))
GOLDEN_RATIO = 0.6180339887498949


def block_kinds(n):
    """Exactly n kinds in the KINDS shares (largest remainder)."""
    raw = [(k, share * n) for k, share in KINDS]
    counts = {k: int(x) for k, x in raw}
    for k, x in sorted(raw, key=lambda kx: kx[1] - int(kx[1]), reverse=True):
        if sum(counts.values()) >= n:
            break
        counts[k] += 1
    return [k for k, _ in KINDS for _ in range(counts[k])]


def synthetic(rng, ident, kind, n_polys, vertices):
    """(xml, expected ids) of one synthetic alert of `kind`."""
    polys = [_polygon(rng, v) for v in vertices[:n_polys]] \
        if kind in ("polygons", "expired") else []
    cat, ev = rng.choice(EVENTS)
    expires = "2020-03-01T00:00:00Z" if kind == "expired" else "2030-09-01T00:00:00+12:00"
    area = "".join(f"<polygon>{p}</polygon>" for p in polys)
    if kind == "circle":
        area += f"<circle>{rng.uniform(-46, -35):.3f},{rng.uniform(167, 178):.3f} " \
                f"{rng.uniform(1, 80):.1f}</circle>"
    desc = " ".join(rng.choice(WORDS) for _ in range(rng.randint(5, 40)))
    xml = ("<?xml version=\"1.0\" encoding=\"UTF-8\"?>"
           "<alert xmlns=\"urn:oasis:names:tc:emergency:cap:1.2\">"
           f"<identifier>{ident}</identifier><sender>cap@bench.example.nz</sender>"
           "<sent>2026-08-10T10:00:00+12:00</sent><status>Actual</status>"
           "<msgType>Alert</msgType><scope>Public</scope><info>"
           f"<category>{cat}</category><event>{ev}</event><urgency>Expected</urgency>"
           "<severity>Severe</severity><certainty>Likely</certainty>"
           f"<senderName>Bench</senderName><headline>{ev} warning {ident}</headline>"
           f"<description>{desc}</description><instruction>Stay informed.</instruction>"
           "<responseType>Prepare</responseType><onset>2026-08-11T06:00:00+12:00</onset>"
           f"<expires>{expires}</expires><web>https://bench.example.nz/{ident}</web>"
           f"<parameter><valueName>ColourCode</valueName><value>{rng.choice(COLOURS)}</value>"
           f"</parameter><area><areaDesc>Region {ident}</areaDesc>{area}</area>"
           "</info></alert>")
    if kind == "expired":
        ids = []
    elif kind == "polygons" and n_polys == 1:
        ids = [ident, ident + "-center"]
    elif kind == "polygons":
        ids = [x for i in range(n_polys) for x in (f"{ident}-{i}", f"{ident}-{i}-center")]
    else:
        ids = [ident]
    return xml, ids, vertices[:len(polys)]


def generate(seed, n, profile="batch", prefix="A", block=None, group=4):
    """The alerts of one workload input, in publish order, built in blocks
    of `block` alerts (default: one block). Alerts come in runs of `group`
    consecutive alerts of the same kind, polygon count and vertex counts,
    so a round-robin split into `group` (or fewer, a power of two) slices
    gives every slice the same work. Each alert is a dict: key, xml (bytes),
    expect ({id: feature or None}), kind, vertices (per polygon)."""
    lo, hi = PROFILES[profile]
    rng = random.Random(f"{seed}-{profile}-{prefix}")
    fixtures = load_fixtures()
    fixture_order = list(range(len(fixtures)))
    rng.shuffle(fixture_order)
    u = rng.random()
    n_clone = n_poly_alert = 0

    def next_vertices(k):
        nonlocal u
        out = []
        for _ in range(k):
            u = (u + GOLDEN_RATIO) % 1.0
            out.append(int(round(lo * (hi / lo) ** u)))  # log-uniform
        return out

    alerts = []
    block = block or n
    for b0 in range(0, n, block):
        size = min(block, n - b0)
        kinds = block_kinds(-(-size // group))
        rng.shuffle(kinds)
        slots = [kind for kind in kinds for _ in range(group)][:size]
        for j, kind in enumerate(slots):
            i = b0 + j
            key = f"{prefix}{i:06d}"
            first = j % group == 0
            if kind == "clone":
                if first:
                    name, text, ident, feats = fixtures[fixture_order[n_clone % len(fixtures)]]
                    n_clone += 1
                if ident is None:
                    xml, expect = text, {}
                else:
                    new = f"{ident}-{prefix.lower()}{seed}x{i}"
                    xml = text.replace(f"<identifier>{ident}</identifier>",
                                       f"<identifier>{new}</identifier>", 1)
                    expect = {f["id"]: f for f in clone_features(feats, ident, new)}
                alerts.append({"key": key, "xml": xml.encode(), "expect": expect,
                               "kind": "clone:" + name, "vertices": []})
            else:
                if first:
                    n_polys = 0
                    if kind in ("polygons", "expired"):
                        n_polys = 1 + n_poly_alert % 4
                        n_poly_alert += 1
                    vertices = next_vertices(n_polys)
                ident = f"SYN-{prefix}{seed}-{i}"
                xml, ids, verts = synthetic(rng, ident, kind, n_polys, vertices)
                alerts.append({"key": key, "xml": xml.encode(), "expect": dict.fromkeys(ids),
                               "kind": kind, "vertices": verts})
    return alerts


def batch_input(seed):
    """The alerts of etl_batch_cpu's feed for `seed`."""
    return generate(seed, BATCH_ALERTS, "batch", "B")


def properties(alerts):
    """The property table of one generated input."""
    n = len(alerts)
    verts = [v for a in alerts for v in a["vertices"]]
    sizes = [len(a["xml"]) for a in alerts]
    synth = [a for a in alerts if not a["kind"].startswith("clone:")]
    def share(k):
        return round(sum(a["kind"] == k for a in alerts) / max(1, n), 4)
    return {
        "alerts": n,
        "clones": n - len(synth),
        "synthetic": len(synth),
        "polygons_per_alert": round(sum(len(a["vertices"]) for a in alerts) / max(1, n), 3),
        "polygons_per_alert_max": max([len(a["vertices"]) for a in alerts] or [0]),
        "vertices_min": min(verts or [0]),
        "vertices_mean": round(sum(verts) / max(1, len(verts)), 1),
        "vertices_max": max(verts or [0]),
        "xml_bytes_total": sum(sizes),
        "xml_bytes_mean": round(sum(sizes) / max(1, n), 1),
        "xml_bytes_max": max(sizes or [0]),
        "expired_share": share("expired"),
        "circle_share": share("circle"),
        "no_geometry_share": share("none"),
        "expected_features": sum(len(a["expect"]) for a in alerts),
    }


def digest(alerts):
    h = hashlib.sha256()
    for a in alerts:
        h.update(a["key"].encode() + b"\0" + a["xml"] + b"\0")
        h.update(json.dumps(a["expect"], sort_keys=True).encode())
    return h.hexdigest()


def selftest():
    for profile in PROFILES:
        a, b = generate(11, 300, profile), generate(11, 300, profile)
        assert digest(a) == digest(b), f"{profile}: seed 11 is not reproducible"
        assert digest(a) != digest(generate(12, 300, profile)), f"{profile}: seed ignored"
    print("gen_cap selftest OK")


if __name__ == "__main__":
    if sys.argv[1:] == ["--selftest"]:
        selftest()
    else:
        print(json.dumps(properties(batch_input(int(sys.argv[1]))), indent=1))
