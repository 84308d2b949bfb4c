#!/usr/bin/env python3
"""Seeded OpenStreetMap XML extract generator, with its own ground truth.

`write(path, n_nodes, seed)` writes one `.osm` extract of nodes, ways and
relations in the OSM 0.6 layout: most nodes carry no tag, the rest one or
several; `addr:street` values end in abbreviated or unexpected street
types; some keys hold problem characters (the star drops them) and some
hold one or two colons (the star splits them at the first). Ways reference
2 to 12 nodes. The proportions are assumed, not measured from a real
extract: they are chosen so that every case the cleaning code handles
occurs in every extract (see README.md).

While it writes, it computes, without Spark, what the program must produce
from the extract: the star tables' rows (raw and cleaned tag values), the
per-contributor element counts, the amenity counts, the street-type audit,
and the element census. `check.py` compares the program's outputs with it.

    python3 perfbench/gen_osm.py <out.osm> <n_nodes> <seed>
"""
import re
import sys
from collections import Counter, defaultdict
from xml.sax.saxutils import quoteattr

import numpy as np

# The program's cleaning contract (sources/OsmXml.scala, OsmPipeline.scala).
PROBLEM_CHARS = re.compile(r"[=+/&<>;'\"?%#$@,. \t\r\n]")
MAPPING = {"St": "Street", "St.": "Street", "Ave": "Avenue", "Rd": "Road"}
EXPECTED = {"Street", "Avenue", "Road", "Boulevard", "Drive", "Court", "Place",
            "Lane", "Way", "Trail", "Parkway", "Commons", "North", "South",
            "East", "West"}
LAST_TOKEN = re.compile(r"(\S+)$", re.ASCII)

STREET_NAMES = ["King", "Queen", "Yonge", "Bloor", "Dundas", "College", "Spadina",
                "Bathurst", "Church", "Jarvis", "Parliament", "Front", "Wellington",
                "Adelaide", "Richmond", "Harbord", "Ossington", "Dufferin", "Keele",
                "Lakeshore", "Eglinton", "Lawrence", "Sheppard", "Finch", "Steeles"]
# Street types with their share: expected ones, the mapped abbreviations,
# and unexpected ones the audit must report.
STREET_TYPES = [("Street", 20), ("Avenue", 12), ("Road", 8), ("St", 10), ("St.", 4),
                ("Ave", 6), ("Rd", 4), ("Boulevard", 3), ("Drive", 4), ("Crescent", 3),
                ("Blvd", 2), ("Dr", 2), ("Lane", 2), ("Court", 2), ("Terrace", 1),
                ("Circle", 1), ("Way", 2), ("West", 3), ("East", 3), ("Gardens", 1)]
AMENITIES = [("restaurant", 14), ("cafe", 10), ("bench", 12), ("parking", 9),
             ("fast_food", 8), ("bank", 5), ("pharmacy", 4), ("school", 4),
             ("post_box", 6), ("fuel", 3), ("place_of_worship", 3), ("bar", 4),
             ("library", 1), ("dentist", 2), ("bicycle_parking", 7)]
NAMES = ["Maple", "Central", "Harbour", "Union", "Riverside", "Oak", "Cedar",
         "Northern", "Grand", "Royal", "Pioneer", "Summit"]
HIGHWAYS = ["residential", "service", "footway", "secondary", "primary",
            "tertiary", "cycleway"]
# Keys the star must drop: each holds at least one problem character.
PROBLEM_KEYS = ["name;en", "FIXME?", "opening hours", "note.2", "url=web", "addr.street"]


def _weighted(rng, items):
    vals = [v for v, _ in items]
    w = np.array([x for _, x in items], dtype=float)
    return vals[int(rng.choice(len(vals), p=w / w.sum()))]


def _street(rng):
    return f"{STREET_NAMES[int(rng.integers(len(STREET_NAMES)))]} {_weighted(rng, STREET_TYPES)}"


def _postcode(rng):
    letters = "ABCEGHJKLMNPRSTVXY"
    pc = (f"M{rng.integers(1, 10)}{letters[int(rng.integers(len(letters)))]} "
          f"{rng.integers(0, 10)}{letters[int(rng.integers(len(letters)))]}{rng.integers(0, 10)}")
    return pc.lower() if rng.random() < 0.3 else pc


def _node_tags(rng):
    """Zero, one or several tags."""
    r = rng.random()
    if r < 0.72:
        return []
    tags = []
    if r < 0.80:
        tags.append(("amenity", _weighted(rng, AMENITIES)))
    elif r < 0.86:
        tags += [("highway", "traffic_signals")]
    else:
        tags += [("addr:housenumber", str(int(rng.integers(1, 3000)))),
                 ("addr:street", _street(rng))]
        if rng.random() < 0.5:
            tags.append(("addr:postcode", _postcode(rng)))
        if rng.random() < 0.4:
            tags.append(("amenity", _weighted(rng, AMENITIES)))
    if rng.random() < 0.35:
        tags.append(("name", f"{NAMES[int(rng.integers(len(NAMES)))]} {int(rng.integers(1, 99))}"))
    if rng.random() < 0.08:
        tags.append(("name:fr", NAMES[int(rng.integers(len(NAMES)))]))
    if rng.random() < 0.04:
        tags.append(("disused:amenity", _weighted(rng, AMENITIES)))
    if rng.random() < 0.05:
        tags.append((PROBLEM_KEYS[int(rng.integers(len(PROBLEM_KEYS)))], "x"))
    return tags


def _way_tags(rng):
    r = rng.random()
    if r < 0.15:
        return []
    if r < 0.55:
        tags = [("highway", HIGHWAYS[int(rng.integers(len(HIGHWAYS)))]),
                ("name", _street(rng))]
        if rng.random() < 0.3:
            tags.append(("oneway", "yes"))
        if rng.random() < 0.1:
            tags.append(("tiger:name_base", STREET_NAMES[int(rng.integers(len(STREET_NAMES)))]))
    else:
        tags = [("building", "yes")]
        if rng.random() < 0.5:
            tags += [("addr:housenumber", str(int(rng.integers(1, 3000)))),
                     ("addr:street", _street(rng))]
        if rng.random() < 0.05:
            tags.append(("addr:street:name", STREET_NAMES[int(rng.integers(len(STREET_NAMES)))]))
    if rng.random() < 0.04:
        tags.append((PROBLEM_KEYS[int(rng.integers(len(PROBLEM_KEYS)))], "y"))
    return tags


def star_tag(eid, k, v):
    """One tag as the star row (id, key, value, type), or None if dropped."""
    if PROBLEM_CHARS.search(k):
        return None
    if ":" in k:
        t, key = k.split(":", 1)
    else:
        t, key = "regular", k
    return (eid, key, v, t)


def last_token(v):
    m = LAST_TOKEN.search(v)
    return m.group(1) if m else ""


def clean(row):
    eid, key, v, t = row
    if t == "addr" and key == "street":
        tok = last_token(v)
        v = v[:len(v) - len(tok)] + MAPPING.get(tok, tok)
    elif t == "addr" and key == "postcode":
        v = v.upper()
    return (eid, key, v, t)


def audit(tag_rows):
    """auditStreetTypes: unexpected last tokens of addr:street values."""
    by = defaultdict(list)
    for _, key, v, t in tag_rows:
        if t == "addr" and key == "street":
            tok = last_token(v)
            if tok not in EXPECTED:
                by[tok].append(v)
    return [[tok, len(vs), sorted(set(vs))] for tok, vs in sorted(by.items())]


def top(counter_items, k=10):
    return sorted(counter_items, key=lambda kv: (-kv[1], kv[0]))[:k]


def write(path, n_nodes, seed):
    """Writes the extract to `path` and returns its ground truth."""
    rng = np.random.default_rng([seed, n_nodes])
    n_users = max(8, n_nodes // 40)
    users = [(int(1000 + 37 * u), f"mapper_{u}") for u in range(n_users)]
    # Contributions are heavily skewed: a few mappers make most edits.
    share = 1.0 / np.arange(1, n_users + 1) ** 1.1
    share /= share.sum()

    nodes, ways, raw_nt, raw_wt, wn = [], [], [], [], []
    elems = Counter()
    lat0, lon0 = 43.65, -79.38
    out = [f'<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6" generator="perfbench seed={seed}">\n',
           f' <bounds minlat="{lat0 - 0.1:.7f}" minlon="{lon0 - 0.1:.7f}" maxlat="{lat0 + 0.1:.7f}" maxlon="{lon0 + 0.1:.7f}"/>\n']

    def head(kind, eid, u, extra=""):
        uid, user = users[u]
        ver = int(rng.integers(1, 6))
        cs = int(rng.integers(10_000_000, 40_000_000))
        ts = f"201{int(rng.integers(0, 10))}-{int(rng.integers(1, 13)):02d}-{int(rng.integers(1, 29)):02d}T{int(rng.integers(0, 24)):02d}:{int(rng.integers(0, 60)):02d}:{int(rng.integers(0, 60)):02d}Z"
        return (f' <{kind} id="{eid}"{extra} version="{ver}" timestamp="{ts}" changeset="{cs}" '
                f'uid="{uid}" user={quoteattr(user)}'), (uid, user, cs)

    def body(kind, h, children):
        if children:
            out.append(h + ">\n" + "".join(children) + f" </{kind}>\n")
        else:
            out.append(h + "/>\n")

    def tag_xml(k, v):
        return f"  <tag k={quoteattr(k)} v={quoteattr(v)}/>\n"

    node_ids = []
    for i in range(n_nodes):
        eid = 20_000_000 + 7 * i + int(rng.integers(0, 7))
        node_ids.append(eid)
        lat = f"{lat0 + rng.uniform(-0.1, 0.1):.7f}"
        lon = f"{lon0 + rng.uniform(-0.1, 0.1):.7f}"
        u = int(rng.choice(n_users, p=share))
        h, (uid, user, cs) = head("node", eid, u, f' lat="{lat}" lon="{lon}"')
        tags = _node_tags(rng)
        body("node", h, [tag_xml(k, v) for k, v in tags])
        nodes.append((eid, float(lat), float(lon), user, uid, cs))
        elems[(user, uid)] += 1
        raw_nt += [r for r in (star_tag(eid, k, v) for k, v in tags) if r]

    n_ways = max(4, n_nodes // 8)
    for w in range(n_ways):
        eid = 100_000_000 + 11 * w + int(rng.integers(0, 11))
        u = int(rng.choice(n_users, p=share))
        h, (uid, user, cs) = head("way", eid, u)
        refs = [node_ids[int(j)] for j in rng.integers(0, n_nodes, int(rng.integers(2, 13)))]
        tags = _way_tags(rng)
        body("way", h, [f'  <nd ref="{r}"/>\n' for r in refs] + [tag_xml(k, v) for k, v in tags])
        ways.append((eid, user, uid, cs))
        elems[(user, uid)] += 1
        raw_wt += [r for r in (star_tag(eid, k, v) for k, v in tags) if r]
        wn += [(eid, r, p) for p, r in enumerate(refs)]

    n_rel = max(2, n_ways // 25)
    for r in range(n_rel):
        eid = 5_000_000 + r
        h, _ = head("relation", eid, int(rng.choice(n_users, p=share)))
        members = [f'  <member type="way" ref="{ways[int(j)][0]}" role="outer"/>\n'
                   for j in rng.integers(0, n_ways, int(rng.integers(1, 5)))]
        body("relation", h, members + [tag_xml("type", "multipolygon")])
    out.append("</osm>\n")
    with open(path, "w", encoding="utf-8") as f:
        f.write("".join(out))

    amen = Counter(v for _, key, v, _ in raw_nt if key == "amenity")
    return {
        "nodes": nodes,
        "ways": ways,
        "nodes_tags": [clean(r) for r in raw_nt],
        "ways_tags": [clean(r) for r in raw_wt],
        "ways_nodes": wn,
        "audit": audit(raw_nt + raw_wt),
        "topContributors": [[user, uid, c] for (user, uid), c in
                            sorted(elems.items(), key=lambda kv: (-kv[1], kv[0][1]))[:10]],
        "topAmenities": [[a, c] for a, c in top(amen.items())],
        "contributorCount": len({uid for _, uid in elems}),
        "tagCensus": {"node": n_nodes, "way": n_ways, "relation": n_rel},
    }


if __name__ == "__main__":
    t = write(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
    print({k: (len(v) if isinstance(v, list) else v) for k, v in t.items()})
