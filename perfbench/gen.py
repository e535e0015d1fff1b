"""Seeded input generator owned by the benchmark.

Nothing here imports the program, so a change to the program cannot change
what the benchmark feeds it. Every input is a pure function of the seed and
of its position in the workload's schedule:

- the position alone fixes the shape: column count, row count, which
  semantic types the columns carry, their header names, value styles and
  blank shares, and for the modeler which domain and how many columns;
- the seed changes only cell values and the order of the columns (labels).

So every seed gives every run the same shape schedule and the same number of
operations. Values are drawn with numpy's PCG64 and built with Arrow compute
kernels, which makes them cheap to generate and independent of
``PYTHONHASHSEED``.
"""

from __future__ import annotations

import csv
import io
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

UNKNOWN = "unknown"

# ---------------------------------------------------------------------------
# listings domain: the ontology, its value makers and its header names

LISTINGS_TTL = """\
@prefix : <http://perfbench.example/listings#> .
@prefix owl: <http://www.w3.org/2002/07/owl#> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

:Listing rdf:type owl:Class .
:Agent rdf:type owl:Class .
:Office rdf:type owl:Class .
:Address rdf:type owl:Class .

:listedBy rdf:type owl:ObjectProperty ; rdfs:domain :Listing ; rdfs:range :Agent .
:worksFor rdf:type owl:ObjectProperty ; rdfs:domain :Agent ; rdfs:range :Office .
:locatedAt rdf:type owl:ObjectProperty ; rdfs:domain :Listing ; rdfs:range :Address .
:officeAddress rdf:type owl:ObjectProperty ; rdfs:domain :Office ; rdfs:range :Address .

:price rdf:type owl:DatatypeProperty ; rdfs:domain :Listing ; rdfs:range xsd:string .
:bedrooms rdf:type owl:DatatypeProperty ; rdfs:domain :Listing ; rdfs:range xsd:string .
:bathrooms rdf:type owl:DatatypeProperty ; rdfs:domain :Listing ; rdfs:range xsd:string .
:area rdf:type owl:DatatypeProperty ; rdfs:domain :Listing ; rdfs:range xsd:string .
:yearBuilt rdf:type owl:DatatypeProperty ; rdfs:domain :Listing ; rdfs:range xsd:string .
:description rdf:type owl:DatatypeProperty ; rdfs:domain :Listing ; rdfs:range xsd:string .
:listedDate rdf:type owl:DatatypeProperty ; rdfs:domain :Listing ; rdfs:range xsd:string .
:listingId rdf:type owl:DatatypeProperty ; rdfs:domain :Listing ; rdfs:range xsd:string .
:name rdf:type owl:DatatypeProperty ; rdfs:domain :Agent ; rdfs:range xsd:string .
:phone rdf:type owl:DatatypeProperty ; rdfs:domain :Agent ; rdfs:range xsd:string .
:email rdf:type owl:DatatypeProperty ; rdfs:domain :Agent ; rdfs:range xsd:string .
:website rdf:type owl:DatatypeProperty ; rdfs:domain :Office ; rdfs:range xsd:string .
:street rdf:type owl:DatatypeProperty ; rdfs:domain :Address ; rdfs:range xsd:string .
:city rdf:type owl:DatatypeProperty ; rdfs:domain :Address ; rdfs:range xsd:string .
:postcode rdf:type owl:DatatypeProperty ; rdfs:domain :Address ; rdfs:range xsd:string .
"""

# class-to-class links a listings SSD carries when both ends are present
LISTINGS_LINKS = (
    ("Listing", "Agent", "listedBy"),
    ("Agent", "Office", "worksFor"),
    ("Listing", "Address", "locatedAt"),
)

_FIRST = ("anna", "ben", "carla", "dan", "eva", "felix", "gina", "hugo", "iris",
          "jonas", "kira", "liam", "maya", "nico", "olga", "paul")
_LAST = ("smith", "jones", "lee", "chen", "garcia", "kim", "patel", "novak",
         "okafor", "rossi", "silva", "tanaka", "weber", "young")
_CITIES = ("Springfield", "Riverton", "Lakeside", "Hillview", "Brookfield",
           "Fairmont", "Oakridge", "Maple Bay", "Stonehaven", "Port Ellis")
_STREETS = ("Oak", "Maple", "Cedar", "Pine", "Elm", "Harbor", "Mill", "Church",
            "Station", "Park", "Hill", "Bridge")
_STREET_KINDS = ("St", "Ave", "Rd", "Lane", "Blvd", "Court")
_WORDS = ("spacious", "sunny", "cozy", "modern", "garden", "view", "quiet",
          "renovated", "close to schools", "park", "large kitchen", "open plan",
          "double garage", "walk-in closet", "new roof", "pool")
_OFFICE_SUFFIX = ("LLC", "Inc.", "Realty Group", "& Partners", "Ltd")
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct",
           "Nov", "Dec")


def _s(a) -> pa.Array:
    """Integers (or floats) as decimal strings."""
    return pa.array(a).cast(pa.string())


def _cat(*parts) -> pa.Array:
    """Element-wise concatenation of string arrays and scalars."""
    return pc.binary_join_element_wise(*parts, "")


def _pick(g: np.random.Generator, pool, n: int) -> pa.Array:
    return pa.array(pool, pa.string()).take(pa.array(g.integers(0, len(pool), n)))


def _pad(a, width: int) -> pa.Array:
    return pc.utf8_lpad(_s(a), width=width, padding="0")


def _commas(v: np.ndarray) -> pa.Array:
    """Non-negative integers with comma thousands separators ("1,234,000")."""
    v = np.asarray(v, dtype=np.int64)
    ones, thousands, millions = v % 1000, (v // 1000) % 1000, v // 1_000_000
    three = _cat(_s(thousands), ",", _pad(ones, 3))
    six = _cat(_s(millions), ",", _pad(thousands, 3), ",", _pad(ones, 3))
    return pc.if_else(pa.array(millions > 0), six,
                      pc.if_else(pa.array(thousands > 0), three, _s(ones)))


def _date(g: np.random.Generator, n: int, style: int) -> pa.Array:
    y, m, d = g.integers(2015, 2025, n), g.integers(1, 13, n), g.integers(1, 29, n)
    if style == 0:
        return _cat(_s(y), "-", _pad(m, 2), "-", _pad(d, 2))
    if style == 1:
        return _cat(_pad(d, 2), "/", _pad(m, 2), "/", _s(y))
    months = pa.array(_MONTHS).take(pa.array(m - 1))
    return _cat(months, " ", _s(d), ", ", _s(y))


def _phone(g: np.random.Generator, n: int, style: int) -> pa.Array:
    a, b, c = g.integers(200, 1000, n), g.integers(200, 1000, n), g.integers(1000, 10000, n)
    if style == 0:
        return _cat("(", _s(a), ") ", _s(b), "-", _s(c))
    return _cat(_s(a), "-", _s(b), "-", _s(c))


def _description(g: np.random.Generator, n: int, style: int) -> pa.Array:
    # 2-6 comma-separated phrases; the first word capitalised
    k = g.integers(2, 7, n)
    words = [_pick(g, _WORDS, n) for _ in range(6)]
    out = words[0]
    for j in range(1, 6):
        out = pc.if_else(pa.array(k > j), _cat(out, ", ", words[j]), out)
    return pc.utf8_capitalize(out)


# semantic type -> vectorised value maker (rng, n, style); several values carry
# commas, so the CSV writer quotes them
LISTING_TYPES = {
    "Listing---price": lambda g, n, s: _cat("$", _commas(g.integers(80, 2501, n) * 1000)),
    "Listing---bedrooms": lambda g, n, s: _s(g.integers(1, 7, n)),
    "Listing---bathrooms": lambda g, n, s: _pick(g, ("1", "1.5", "2", "2.5", "3", "3.5"), n),
    "Listing---area": lambda g, n, s: (_cat(_commas(g.integers(350, 6001, n)), " sqft") if s % 2
                                       else _cat(_s(g.integers(35, 601, n)), " m2")),
    "Listing---yearBuilt": lambda g, n, s: _s(g.integers(1880, 2025, n)),
    "Listing---description": _description,
    "Listing---listedDate": lambda g, n, s: _date(g, n, s % 3),
    "Listing---listingId": lambda g, n, s: _cat("L-", _s(g.integers(100000, 1000000, n))),
    "Agent---name": lambda g, n, s: _cat(pc.utf8_title(_pick(g, _FIRST, n)), " ",
                                         pc.utf8_title(_pick(g, _LAST, n))),
    "Agent---phone": lambda g, n, s: _phone(g, n, s % 2),
    "Agent---email": lambda g, n, s: _cat(_pick(g, _FIRST, n), ".", _pick(g, _LAST, n),
                                          "@realty", _s(g.integers(1, 31, n)), ".com"),
    "Office---website": lambda g, n, s: _cat(
        "https://www." if s % 2 else "www.",
        _pick(g, [c.lower().replace(" ", "") for c in _CITIES], n), "homes.com"),
    "Office---name": lambda g, n, s: _cat(_pick(g, _CITIES, n), " Realty, ",
                                          _pick(g, _OFFICE_SUFFIX, n)),
    "Address---street": lambda g, n, s: _cat(_s(g.integers(1, 3000, n)), " ",
                                             _pick(g, _STREETS, n), " ",
                                             _pick(g, _STREET_KINDS, n)),
    "Address---city": lambda g, n, s: _pick(g, _CITIES, n),
    "Address---postcode": lambda g, n, s: _pad(g.integers(1000, 100000, n), 5),
}
LISTING_CLASSES = sorted(LISTING_TYPES)

# value makers of the noise columns, whose ground truth is ``unknown``
NOISE_TYPES = (
    lambda g, n: _cat("X", _s(g.integers(10**9, 10**10, n))),
    lambda g, n: _cat("0.", _pad(g.integers(0, 10000, n), 4)),
    lambda g, n: _pick(g, ("Y", "N", "yes", "no"), n),
    lambda g, n: _cat(_pick(g, tuple("ABCDEFGH"), n), _pick(g, tuple("KLMNPRST"), n), "-",
                      _s(g.integers(1, 100, n))),
    lambda g, n: _cat(_s(g.integers(0, 100, n)), ".", _s(g.integers(0, 10, n)), "%"),
    lambda g, n: _s(g.integers(0, 50001, n)),
)

_HEADERS = {
    "Listing---price": ("price", "asking_price", "list_price"),
    "Listing---bedrooms": ("beds", "bedrooms", "num_bed"),
    "Listing---bathrooms": ("baths", "bathrooms"),
    "Listing---area": ("area", "floor_area", "size"),
    "Listing---yearBuilt": ("year_built", "built", "constructed"),
    "Listing---description": ("description", "remarks", "blurb"),
    "Listing---listedDate": ("listed", "list_date", "date_on_market"),
    "Listing---listingId": ("listing_id", "mls", "ref_no"),
    "Agent---name": ("agent", "agent_name", "contact"),
    "Agent---phone": ("phone", "agent_phone", "tel"),
    "Agent---email": ("email", "agent_email"),
    "Office---website": ("website", "office_url", "web"),
    "Office---name": ("office", "brokerage", "agency"),
    "Address---street": ("street", "address", "addr1"),
    "Address---city": ("city", "town", "suburb"),
    "Address---postcode": ("zip", "postcode", "postal_code"),
    UNKNOWN: ("extra", "misc", "code", "flag", "score", "field"),
}


# ---------------------------------------------------------------------------
# listings tables


@dataclass(frozen=True)
class Column:
    """One column's shape: header, ground truth, value style, blank share."""

    header: str
    label: str  # Class---property, or UNKNOWN
    style: int
    blank: float


@dataclass(frozen=True)
class Table:
    """One generated table: its columns in file order and its values."""

    name: str
    columns: tuple[Column, ...]
    data: pa.Table

    @property
    def header(self) -> list[str]:
        return [c.header for c in self.columns]

    @property
    def truth(self) -> dict[str, str]:
        return {c.header: c.label for c in self.columns}

    @property
    def rows(self) -> int:
        return self.data.num_rows

    @property
    def cells(self) -> int:
        return self.rows * len(self.columns)

    def csv_text(self) -> str:
        out = io.StringIO()
        w = csv.writer(out, lineterminator="\n")
        w.writerow(self.header)
        w.writerows(zip(*(col.to_pylist() for col in self.data.columns)))
        return out.getvalue()


def _shape_rng(*parts: object) -> random.Random:
    """Seed-independent randomness: shapes depend on the position only."""
    return random.Random(":".join(map(str, ("shape", *parts))))


def _value_rng(seed: int, *parts: int) -> np.random.Generator:
    # two's complement, so negative warm-up indices get streams of their own
    return np.random.default_rng([p & 0xFFFFFFFF for p in (seed, *parts)])


def table_columns(kind: str, i: int, n_cols: int, n_noise: int) -> tuple[Column, ...]:
    """The column shapes of table ``i`` of a schedule, in canonical order:
    distinct listing types plus ``n_noise`` unknown columns. Corpus sources
    take the types in turn, so the corpus labels every type; other tables
    draw them. Independent of the seed."""
    r = _shape_rng(kind, i)
    n_labeled = n_cols - n_noise
    if kind == "corpus":
        labels = [LISTING_CLASSES[(i * n_labeled + k) % len(LISTING_CLASSES)]
                  for k in range(n_labeled)]
    else:
        labels = r.sample(LISTING_CLASSES, n_labeled)
    labels += [UNKNOWN] * n_noise
    cols, used = [], set()
    for j, lbl in enumerate(labels):
        base = r.choice(_HEADERS[lbl])
        header = base if base not in used else f"{base}_{j}"
        used.add(header)
        cols.append(Column(header, lbl, r.randrange(6), r.choice((0.0, 0.02, 0.1))))
    return tuple(cols)


_KINDS = {"corpus": 1, "upload": 2}


def make_table(seed: int, kind: str, i: int, n_cols: int, n_rows: int,
               n_noise: int) -> Table:
    """Table ``i`` of schedule ``kind``: the shapes of :func:`table_columns`,
    columns shuffled by the seed, values drawn from the seed."""
    g = _value_rng(seed, _KINDS[kind], i)
    cols = table_columns(kind, i, n_cols, n_noise)
    cols = tuple(cols[k] for k in g.permutation(len(cols)))
    arrays = []
    for j, c in enumerate(cols):
        if c.label == UNKNOWN:
            noise = NOISE_TYPES[_shape_rng(kind, i, "noise", c.header).randrange(len(NOISE_TYPES))]
            values = noise(g, n_rows)
        else:
            values = LISTING_TYPES[c.label](g, n_rows, c.style)
        if c.blank:
            values = pc.if_else(pa.array(g.random(n_rows) < c.blank), "", values)
        if j == 0:  # no all-empty rows: the CSV loader drops them
            values = pc.if_else(pc.equal(values, ""), "0", values)
        arrays.append(values)
    return Table(f"{kind}{i}", cols, pa.table(arrays, names=[c.header for c in cols]))


# Training corpus: sources of 8 columns, so the CSV loader path stays short
# of the planning blow-up at set-up. Together they label every listing type
# at least twice, plus five unknown columns: 40 labelled columns, enough for
# the program's 128-tree forest.
CORPUS_SHAPES = ((8, 600, 1),) * 5


def corpus(seed: int) -> list[Table]:
    return [make_table(seed, "corpus", j, c, r, k) for j, (c, r, k) in enumerate(CORPUS_SHAPES)]


# octopus_predict uploads, cycled: (columns, rows). Small inputs, so fixed
# per-request cost dominates; 14 and 16 columns hit the planner's
# constraint-propagation blow-up on the CSV loader's filters. Widths of 20
# and more are left out: one such upload runs out of driver memory after
# minutes, beyond a run's budget.
UPLOAD_CYCLE = ((8, 2000), (12, 1500), (14, 1000), (16, 600))


def upload(seed: int, i: int) -> Table:
    """Upload ``i`` of octopus_predict. ``i < 0`` are warm-up uploads, all of
    the cycle's first and narrowest shape, so that set-up stays short of the
    planning blow-up the wide uploads measure."""
    cols, rows = UPLOAD_CYCLE[i % len(UPLOAD_CYCLE)] if i >= 0 else UPLOAD_CYCLE[0]
    return make_table(seed, "upload", i, cols, rows, max(1, cols // 4))


# ---------------------------------------------------------------------------
# SSDs as plain data: the workloads turn them into program objects


@dataclass(frozen=True)
class SsdSpec:
    """An SSD as plain data.

    ``columns`` maps column -> (class, data property); ``links`` are
    (class, class, object property) between the class nodes (one node per
    class)."""

    name: str
    columns: dict[str, tuple[str, str]]
    links: tuple[tuple[str, str, str], ...]


def listings_ssd(table: Table) -> SsdSpec:
    cols = {c.header: tuple(c.label.split("---", 1)) for c in table.columns
            if c.label != UNKNOWN}
    present = {c for c, _p in cols.values()}
    links = tuple(l for l in LISTINGS_LINKS if l[0] in present and l[1] in present)
    return SsdSpec(table.name, cols, links)


# ---------------------------------------------------------------------------
# modeler domains

_DOMAIN_WORDS = ("Museum", "Clinic", "Transit", "Retail", "Campus", "Harbor",
                 "Energy", "Farm", "Court", "Studio", "League", "Lab")


@dataclass(frozen=True)
class HeldOut:
    """A held-out source: noisy matcher scores per column and its gold SSD."""

    predictions: dict[str, dict[str, float]]
    gold: SsdSpec

    @property
    def cells(self) -> int:
        """Columns times candidate types."""
        return sum(len(s) for s in self.predictions.values())


@dataclass(frozen=True)
class Domain:
    name: str
    ttl: str
    classes: tuple[str, ...]
    unconnected: tuple[str, ...]  # classes no object property touches
    known: tuple[SsdSpec, ...]
    data_props: dict[str, tuple[str, ...]]  # class -> its data properties
    edges: tuple[tuple[str, str, str], ...]  # (domain, range, property)


def _letters(i: int) -> str:
    """0 -> A, 25 -> Z, 26 -> BA: a class-name suffix without digits."""
    out = ""
    while True:
        out = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"[i % 26] + out
        i //= 26
        if not i:
            return out


def _rng(seed: int, *parts: object) -> random.Random:
    return random.Random(":".join(str(p) for p in (seed, *parts)))


def make_domain(index: int, n_classes: int, n_known: int, n_unconnected: int) -> Domain:
    """One modeler domain: ``n_classes`` classes, a subclass hierarchy,
    object properties forming a connected core, 2-3 data properties per
    class, and ``n_known`` known SSDs. ``n_unconnected`` of the classes get
    data properties but no object property, as real ontologies have.

    A domain is part of the workload's shape: it depends on its index
    alone, not on the seed."""
    shape = _shape_rng("domain", index)
    word = _DOMAIN_WORDS[index % len(_DOMAIN_WORDS)]
    name = f"{word}{index}"
    n_core = n_classes - n_unconnected
    # no trailing digits: the program's node URIs append an index to the name
    core = [f"{word}{_letters(i)}" for i in range(n_core)]
    unconnected = [f"{word}Orphan{_letters(i)}" for i in range(n_unconnected)]
    parent: dict[str, str] = {}
    for i in range(1, n_core):
        if shape.random() < 0.2:
            parent[core[i]] = core[shape.randrange(i)]
    edges: list[tuple[str, str, str]] = []
    for i in range(1, n_core):  # spanning tree keeps the core connected
        a, b = core[shape.randrange(i)], core[i]
        if shape.random() < 0.5:
            a, b = b, a
        edges.append((a, b, f"p{len(edges)}"))
    for _ in range(n_core // 3):
        a, b = (core[k] for k in shape.sample(range(n_core), 2))
        edges.append((a, b, f"p{len(edges)}"))
    data_props = {c: tuple(f"{c[len(word):].lower()}{j}" for j in range(shape.randint(2, 3)))
                  for c in core + unconnected}

    lines = [
        f"@prefix : <http://perfbench.example/{name.lower()}#> .",
        "@prefix owl: <http://www.w3.org/2002/07/owl#> .",
        "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .",
        "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .",
        "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .",
        "",
    ]
    for c in core + unconnected:
        sup = f" ; rdfs:subClassOf :{parent[c]}" if c in parent else ""
        lines.append(f":{c} rdf:type owl:Class{sup} .")
    for a, b, p in edges:
        lines.append(f":{p} rdf:type owl:ObjectProperty ; rdfs:domain :{a} ; rdfs:range :{b} .")
    for c in core + unconnected:
        for p in data_props[c]:
            lines.append(f":{p} rdf:type owl:DatatypeProperty ; rdfs:domain :{c} ; rdfs:range xsd:string .")
    ttl = "\n".join(lines) + "\n"

    adj = _adjacency(core, edges)
    widths = (KNOWN_WIDTHS[k % len(KNOWN_WIDTHS)] for k in range(n_known))
    known = tuple(_subtree_ssd(shape, data_props, adj, f"{name}_k{k}", w, source_classes(w))
                  for k, w in enumerate(widths))
    return Domain(name, ttl, tuple(core + unconnected), tuple(unconnected), known,
                  data_props, tuple(edges))


def _adjacency(classes, edges) -> dict[str, list[tuple[str, str, str]]]:
    adj: dict[str, list[tuple[str, str, str]]] = {c: [] for c in classes}
    for e in edges:
        adj[e[0]].append(e)
        adj[e[1]].append(e)
    return adj


def _subtree_ssd(r: random.Random, data_props: dict[str, tuple[str, ...]], adj,
                 name: str, n_cols: int, n_classes: int) -> SsdSpec:
    """A source over a connected set of ``n_classes`` core classes with
    ``n_cols`` columns, or one per class if that is more."""
    start = r.choice(sorted(adj))
    chosen, links = [start], []
    frontier = list(adj[start])
    while frontier and len(chosen) < n_classes:
        a, b, p = frontier.pop(r.randrange(len(frontier)))
        new = b if a in chosen else a
        if new in chosen:
            continue
        chosen.append(new)
        links.append((a, b, p))
        frontier.extend(adj[new])
    # one column per chosen class keeps the SSD connected; the rest fill up
    # to ``n_cols`` (or every data property, if the classes have fewer)
    firsts = [(c, r.choice(data_props[c])) for c in chosen]
    rest = [(c, p) for c in chosen for p in data_props[c] if (c, p) not in firsts]
    r.shuffle(rest)
    slots = firsts + rest[:max(0, n_cols - len(firsts))]
    r.shuffle(slots)
    cols = {f"col{i}": cp for i, cp in enumerate(slots)}
    return SsdSpec(name, cols, tuple(sorted(links)))


# Candidate scores of held-out columns, calibrated on the program's matcher:
# ``python3 perfbench/calibrate.py --seeds 1 2 --uploads 8`` scores the first
# 8 octopus_predict uploads of seeds 1 and 2 (152 labelled columns) with the
# model that workload fits at set-up. The truth ranked first for 148 of them;
# the ranges are the 10th-90th percentiles of the rank-1, rank-2 and
# rank-3/4 scores. When the truth does not rank first, the generator puts it
# second.
MATCHER_TOP1_SHARE = 148 / 152
MATCHER_TOP_SCORE = (0.401, 0.797)
MATCHER_SECOND_SCORE = (0.070, 0.160)
MATCHER_OTHER_SCORE = (0.034, 0.106)
CANDIDATES = 4  # candidate types per column, as suggest_models keeps


def held_out(seed: int, dom: Domain, i: int, n_cols: int, n_classes: int) -> HeldOut:
    """A held-out source over ``n_classes`` connected classes of ``dom`` with
    ``n_cols`` columns and ``CANDIDATES`` candidate types per
    column. The wrong candidates are types of the true class or of classes
    one property away, as a matcher confuses related types.

    The position ``i`` fixes which classes and data properties the source
    covers, the candidate types and their ranking; the seed fixes the
    column order and the scores."""
    shape_r, r = _shape_rng("heldout", dom.name, i), _rng(seed, "heldout", dom.name, i)
    adj = _adjacency([c for c in dom.classes if c not in dom.unconnected], dom.edges)
    shape = _subtree_ssd(shape_r, dom.data_props, adj, f"{dom.name}_h{i}", n_cols, n_classes)
    ranked_types = []
    for c, p in shape.columns.values():
        true = f"{c}---{p}"
        near = sorted({c} | {x for a, b, _p in adj[c] for x in (a, b)})
        pool = [f"{k}---{q}" for k in near for q in dom.data_props[k]]
        others = shape_r.sample([t for t in pool if t != true], CANDIDATES - 1)
        if shape_r.random() < MATCHER_TOP1_SHARE:
            ranked_types.append(((c, p), [true, *others]))
        else:  # the matcher got it wrong: the truth ranks second
            ranked_types.append(((c, p), [others[0], true, *others[1:]]))
    r.shuffle(ranked_types)
    gold = SsdSpec(shape.name, {f"col{k}": cp for k, (cp, _t) in enumerate(ranked_types)},
                   shape.links)
    preds: dict[str, dict[str, float]] = {}
    for k, (_cp, ranked) in enumerate(ranked_types):
        top = round(r.uniform(*MATCHER_TOP_SCORE), 4)
        second = round(r.uniform(*MATCHER_SECOND_SCORE), 4)
        rest = sorted((round(r.uniform(*MATCHER_OTHER_SCORE), 4)
                       for _ in range(CANDIDATES - 2)), reverse=True)
        preds[f"col{k}"] = dict(zip(ranked, [top, second, *rest]))
    return HeldOut(preds, gold)


# Source sizes follow the museum-29 corpus the program's modeler tests read
# (``tests/test_museum.py``): 29 sources with 418 columns, 14.4 a source, and
# leave-one-out suggestion against the 28 others. Its s01-cb source maps 10
# columns onto 6 distinct classes, 0.6 classes a column. A domain here has
# MUSEUM_SOURCES - 1 known SSDs, whose widths cycle over KNOWN_WIDTHS (mean
# 14); a held-out request is 12 or 16 columns wide (mean 14). The ontology
# sizes, 30 to 60 classes, have no such source: the museum corpus derives
# its ontology from the models themselves.
MUSEUM_SOURCES = 29
KNOWN_WIDTHS = (8, 11, 14, 17, 20, 13, 15)
REQUEST_WIDTHS = (12, 16)


def source_classes(n_cols: int) -> int:
    """Distinct classes of a source ``n_cols`` wide, at museum s01-cb's ratio."""
    return max(2, round(0.6 * n_cols))


# Domain d has the d-th class count of a 30..60 ladder; the domain at
# UNCONNECTED_DOMAIN holds 2 classes no property reaches.
MODELER_DOMAINS = 8
UNCONNECTED_DOMAIN = 3


def modeler_domains() -> list[Domain]:
    out = []
    for d in range(MODELER_DOMAINS):
        n_classes = 30 + round(30 * d / (MODELER_DOMAINS - 1))
        gaps = 2 if d == UNCONNECTED_DOMAIN else 0
        out.append(make_domain(d, n_classes, MUSEUM_SOURCES - 1, gaps))
    return out


# modeler_suggest requests, cycled: (domain, columns, classes). Every domain
# at both request widths, so a cycle sees every graph size and the
# unconnected domain takes a fixed 2 of 16 requests.
MODELER_CYCLE = tuple((d, cols, source_classes(cols)) for d in range(MODELER_DOMAINS)
                      for cols in REQUEST_WIDTHS)


def request(seed: int, domains: list[Domain], i: int) -> tuple[int, HeldOut]:
    """Request ``i`` of modeler_suggest: its domain index and held-out source."""
    d, cols, classes = MODELER_CYCLE[i % len(MODELER_CYCLE)]
    return d, held_out(seed, domains[d], i, cols, classes)
