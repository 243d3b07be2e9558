"""Seeded synthetic OSM XML for the ``osm_etl`` workload.

The document has the shapes the reference pipeline cleans: dirty street
suffixes, phone numbers, postcodes, states, cities and house numbers,
plain / colon / double-colon / problem-character tag keys, ways with
ordered ``<nd>`` refs, fire-hydrant nodes (so the hydrant join returns
rows), relations (which normalize drops) and a known number of invalid
elements (which the permissive validator quarantines).

Alongside the file the generator returns what a correct pipeline must
produce from it: per-table valid and quarantined row counts, the number of
tag values the cleaners change, the audit bucket count and the element
count. Every expectation is derived from the generator's own catalogue of
cases, written independently of ``data_wrangling_spark``.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass, field

_PROBLEM_RE = re.compile(r"[=+/&<>;'\"?%#$@,. \t\r\n]")

#: street suffixes the reference accepts as they are (S2:32-35)
_EXPECTED_SUFFIXES = (
    "Street", "Avenue", "Road", "Drive", "Lane", "Court", "Trail", "Bend",
    "Loop", "Cove", "Way", "Circle", "Parkway", "Place",
)
#: dirty suffix -> the suffix the street cleaner writes (S2:38-53)
_DIRTY_SUFFIXES = {
    "St": "Street", "St.": "Street", "Ave": "Avenue", "Rd": "Road",
    "Rd.": "Road", "Blvd": "Boulevard", "Dr": "Drive", "Ln": "Lane",
    "Trl": "Trail", "Cv": "Cove", "Ct": "Court",
}
#: suffixes the cleaner neither expects nor maps: they pass through
_UNKNOWN_SUFFIXES = ("Xing", "Hwy", "Run")
_STREET_BASES = (
    "Main", "Oak", "Cedar", "Elm", "Pecan", "Basket Flower", "FM 1100",
    "Hidden Valley", "Live Oak", "County Line", "Bluebonnet", "Mesquite",
)
_CITIES = ("Elgin", "Bastrop", "Manor", "Taylor", "Coupland", "Round Rock")
_USERS = tuple(f"mapper_{i:03d}" for i in range(160))
_NOTES = ("check", "survey 2016", "imported", "verify name")


@dataclass
class OsmExpectation:
    """What the pipeline must produce from one generated document."""

    elements: int = 0
    valid: dict[str, int] = field(default_factory=dict)
    quarantined: dict[str, int] = field(default_factory=dict)
    values_changed: int = 0
    audit_buckets: int = 0
    hydrants: int = 0
    input_bytes: int = 0


def _street(rng: random.Random) -> tuple[str, str]:
    base = rng.choice(_STREET_BASES)
    r = rng.random()
    if r < 0.45:
        suffix = rng.choice(_EXPECTED_SUFFIXES)
        return f"{base} {suffix}", f"{base} {suffix}"
    if r < 0.9:
        suffix = rng.choice(sorted(_DIRTY_SUFFIXES))
        return f"{base} {suffix}", f"{base} {_DIRTY_SUFFIXES[suffix]}"
    suffix = rng.choice(_UNKNOWN_SUFFIXES)
    return f"{base} {suffix}", f"{base} {suffix}"


def _phone(rng: random.Random) -> tuple[str, str]:
    a, b, c = rng.randint(200, 999), rng.randint(200, 999), rng.randint(0, 9999)
    clean = f"{a}-{b}-{c:04d}"
    shape = rng.randrange(4)
    raw = (f"({a}) {b}-{c:04d}", f"+1 {a} {b} {c:04d}", clean, f"{a}{b}{c:04d}")[shape]
    return raw, clean


def _postcode(rng: random.Random) -> tuple[str, str]:
    zip5 = f"78{rng.randint(600, 699)}"
    shape = rng.randrange(3)
    raw = (f"{zip5}-{rng.randint(1000, 9999)}", f"TX {zip5}", zip5)[shape]
    return raw, zip5


def _state(rng: random.Random) -> tuple[str, str]:
    return ("TX", "Texas") if rng.random() < 0.6 else ("Texas", "Texas")


def _city(rng: random.Random) -> tuple[str, str]:
    city = rng.choice(_CITIES)
    if rng.random() < 0.4:
        # the cleaner keeps the leading word run; 'Round' becomes 'Round Rock'
        first = city.split(" ")[0]
        return f"{city}, TX", "Round Rock" if first == "Round" else first
    clean = city.split(" ")[0] if city != "Round Rock" else city
    return city, clean


def _const(*choices: str):
    """Value maker for tags no cleaner touches."""

    def make(rng: random.Random) -> tuple[str, str]:
        v = rng.choice(choices)
        return v, v

    return make


def _housenumber(rng: random.Random) -> tuple[str, str]:
    n = rng.randint(1, 9999)
    raw = (str(n), f"{n}B", f"{n}-{n + 2}")[rng.randrange(3)]
    return raw, raw


#: (raw key, value maker) for tags; keys repeat the fixture's split cases
_ADDR_TAGS = (
    ("addr:street", _street),
    ("addr:city", _city),
    ("addr:postcode", _postcode),
    ("addr:state", _state),
    ("addr:housenumber", _housenumber),
)
_OTHER_TAGS = (
    ("phone", _phone),
    ("contact:phone", _phone),
    ("highway", _const("residential", "service", "stop")),
    ("name", _const(*(f"{b} Park" for b in _STREET_BASES))),
    ("tiger:name_base:1", _const(*_STREET_BASES)),
    ("gnis:feature_id", _const(*(str(1_378_000 + i) for i in range(500)))),
    ("FIXME:de", _const("pruefen")),
    ("odd key", _const("dropped")),
    ("a.b", _const("dropped")),
    ("x&y", _const("dropped")),
)
_WAY_TAGS = (
    ("highway", _const("residential", "service", "primary")),
    ("building", _const("yes")),
    ("tiger:county", _const("Bastrop, TX")),
    ("addr:street", _street),
    ("street", _street),
    ("name", _const(*(f"{b} Road" for b in _STREET_BASES))),
)


def _audit_bucket(key: str, value: str) -> tuple[str, str] | None:
    """(field, bucket) the reference's audit files the raw value under, or
    None when the value is not audited (S1:43-125)."""
    if key == "addr:street":
        m = re.search(r"\b\S+\.?$", value)
        bucket = m.group(0) if m else ""
        expected = _EXPECTED_SUFFIXES + ("Boulevard",)
        if bucket == "" or bucket in expected:
            return None
        return ("street", bucket)
    if key == "addr:state":
        m = re.search(r"[A-Za-z+]+", value)
        return ("state", m.group(0)) if m else None
    if key == "phone":
        return ("phone", "")
    if key == "addr:postcode":
        return ("postcode", "")
    if key == "addr:city":
        m = re.search(r"^[\w\-]+", value)
        return ("city", m.group(0)) if m else None
    if key == "addr:housenumber":
        m = re.search(r"\d+", value)
        return ("housenumber", m.group(0)) if m else None
    return None


def _esc(v: str) -> str:
    return v.replace("&", "&amp;").replace('"', "&quot;").replace("<", "&lt;")


def generate_osm(path: str, seed: int, target_bytes: int) -> OsmExpectation:
    """Write a seeded OSM document of about ``target_bytes`` to ``path``
    and return what a correct pipeline must produce from it."""
    rng = random.Random(seed)
    exp = OsmExpectation()
    valid = dict.fromkeys(("nodes", "nodes_tags", "ways", "ways_nodes", "ways_tags"), 0)
    quarantined = dict.fromkeys(valid, 0)
    buckets: set[tuple[str, str]] = set()
    # mapper popularity is skewed, like real contributor counts
    weights = [1.0 / (i + 1) ** 0.8 for i in range(len(_USERS))]

    def tag_rows(table: str, tags: list[tuple[str, str | None, str | None]]) -> list[str]:
        out = []
        for k, raw, clean in tags:
            if raw is None:
                out.append(f'    <tag k="{_esc(k)}"/>')
            else:
                out.append(f'    <tag k="{_esc(k)}" v="{_esc(raw)}"/>')
                b = _audit_bucket(k, raw)
                if b is not None:
                    buckets.add(b)
            if _PROBLEM_RE.search(k):
                continue
            if raw is None:
                quarantined[table] += 1
                continue
            valid[table] += 1
            exp.values_changed += raw != clean
        return out

    def attrs(eid: int, uid_user: bool) -> str:
        user_i = rng.choices(range(len(_USERS)), weights)[0]
        ts = (f"{rng.randint(2008, 2017)}-{rng.randint(1, 12):02d}-"
              f"{rng.randint(1, 28):02d}T{rng.randint(0, 23):02d}:"
              f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}Z")
        who = f' user="{_USERS[user_i]}" uid="{1000 + user_i}"' if uid_user else ""
        return (f'id="{eid}"{who} version="{rng.randint(1, 9)}" '
                f'changeset="{rng.randint(10_000_000, 49_999_999)}" timestamp="{ts}"')

    parts = [
        "<?xml version='1.0' encoding='UTF-8'?>\n",
        "<osm version='0.6' generator='perfbench'>\n",
        "  <bounds minlat='30.2517' minlon='-97.6293' maxlat='30.5158' maxlon='-97.0903'/>\n",
    ]
    size = sum(len(p) for p in parts)
    # about a tenth of the bytes go to ways; nodes fill the rest
    node_budget = target_bytes * 0.88
    node_ids: list[int] = []
    nid = 2_600_000_000
    while size < node_budget:
        nid += rng.randint(1, 40)
        node_ids.append(nid)
        invalid = rng.random() < 0.002
        tags: list[tuple[str, str | None, str | None]] = []
        r = rng.random()
        if r < 0.004:
            tags += [("emergency", "fire_hydrant", "fire_hydrant"),
                     ("fire_hydrant:type", "pillar", "pillar")]
            invalid = False
            exp.hydrants += 1
        elif r < 0.20:
            for k, make in _ADDR_TAGS:
                if rng.random() < 0.7:
                    tags.append((k, *make(rng)))
        elif r < 0.40:
            k, make = rng.choice(_OTHER_TAGS)
            tags.append((k, *make(rng)))
        if rng.random() < 0.003:
            tags.append(("note", None, None))
        elif rng.random() < 0.01:
            v = rng.choice(_NOTES)
            tags.append(("note", v, v))
        lat = 30.2517 + rng.random() * 0.2641
        lon = -97.6293 + rng.random() * 0.539
        head = f'  <node {attrs(nid, not invalid)} lat="{lat:.7f}" lon="{lon:.7f}"'
        if tags:
            lines = [head + ">", *tag_rows("nodes_tags", tags), "  </node>"]
        else:
            lines = [head + "/>"]
        chunk = "\n".join(lines) + "\n"
        parts.append(chunk)
        size += len(chunk)
        if invalid:
            quarantined["nodes"] += 1
        else:
            valid["nodes"] += 1

    wid = 40_000_000
    n_ways = 0
    while size < target_bytes:
        wid += rng.randint(1, 25)
        n_ways += 1
        invalid = rng.random() < 0.004
        start = rng.randrange(len(node_ids))
        refs = node_ids[start:start + rng.randint(2, 14)]
        tags = [(k, *make(rng)) for k, make in _WAY_TAGS if rng.random() < 0.45]
        if rng.random() < 0.01:
            tags.append(("note", None, None))
        lines = [f"  <way {attrs(wid, not invalid)}>"]
        lines += [f'    <nd ref="{r}"/>' for r in refs]
        lines += tag_rows("ways_tags", tags)
        lines.append("  </way>")
        chunk = "\n".join(lines) + "\n"
        parts.append(chunk)
        size += len(chunk)
        valid["ways_nodes"] += len(refs)
        if invalid:
            quarantined["ways"] += 1
        else:
            valid["ways"] += 1

    n_relations = 3
    for i in range(n_relations):
        parts.append(
            f'  <relation id="{9_000_000 + i}" user="mapper_000" uid="1000" '
            f'version="1" changeset="9200000" timestamp="2016-06-06T12:00:00Z">\n'
            f'    <member type="way" ref="{40_000_001 + i}" role="outer"/>\n'
            f'    <tag k="type" v="multipolygon"/>\n'
            f"  </relation>\n"
        )
    parts.append("</osm>\n")
    data = "".join(parts).encode()
    with open(path, "wb") as f:
        f.write(data)

    exp.elements = len(node_ids) + n_ways + n_relations
    exp.valid = valid
    exp.quarantined = quarantined
    exp.audit_buckets = len(buckets)
    exp.input_bytes = len(data)
    return exp
