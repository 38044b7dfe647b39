"""Deterministic synthetic web-page corpus (Common-Crawl-style).

Schemas follow FIXTURES.md §1-2 and ``BASELINE.json`` ``input_hint``:
``pages(url string, warc_ts timestamp, html binary, text string, lang string)``
and ``aliases(alias, canonical_id, weight, source, is_primary)``.

Design for scale: every page is a pure function of its integer id, so
generation distributes as ``spark.range(n)`` + ``mapInPandas`` — no
driver-side loop, no shared RNG state, no wall-clock. The same function
backs tiny driver-side fixtures for unit tests.

Planted structure (exercised by later stages):
- (subj, pred, obj) relations in templated sentences → triple extraction;
- alias surface variants (abbreviation, typo) → linking + MinHash-LSH
  canonicalization must merge them;
- duplicate urls with differing ``warc_ts`` → per-url dedup keeps latest
  (mirrors the reference's per-lab dedup keys,
  ``backend/app/models/research_paper.py:13-14``);
- a hot url + hot entity at ~30-100x frequency → skew/salting path;
- non-en pages → lang filter / partition-pruning analog.

Reference parity: the alias dictionary mirrors ``research_keywords``
(lowercased term, weight∈[0,1], source enum, is_primary —
``backend/app/models/research_keyword.py:13-22``).
"""

from __future__ import annotations

import datetime as _dt
import random
from functools import lru_cache
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SEED = "graphlab-spark-corpus-v1"

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), False),
    ]
)

ALIASES_SCHEMA = T.StructType(
    [
        T.StructField("alias", T.StringType(), False),
        T.StructField("canonical_id", T.StringType(), False),
        T.StructField("entity_type", T.StringType(), False),
        T.StructField("weight", T.DoubleType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("is_primary", T.BooleanType(), False),
    ]
)

# ---------------------------------------------------------------- gazetteer

_ORG_A = [
    "Acme", "Borealis", "Cascade", "Dynamo", "Everest", "Fulcrum",
    "Gyrosphere", "Helix", "Ionflow", "Juniper", "Krypton", "Lumenary",
]
_ORG_B = ["Systems", "Laboratories", "Analytics", "Robotics", "Networks"]

_FIRST = [
    "Alice", "Bruno", "Carmen", "Dmitri", "Elena", "Farid",
    "Greta", "Hiroshi", "Ingrid", "Javier",
]
_LAST = [
    "Almeida", "Bergstrom", "Castellano", "Dubois", "Eriksson",
    "Fontaine", "Grushenko", "Hawthorne",
]

_PLACES = [
    "Amsterdam", "Bangalore", "Casablanca", "Dortmund", "Edinburgh",
    "Fukuoka", "Gothenburg", "Helsinki", "Istanbul", "Jakarta",
    "Krakow", "Lisbon", "Montevideo", "Nairobi", "Oslo",
    "Porto", "Quito", "Reykjavik", "Santiago", "Tallinn",
]

_TECH = [
    "Quantum Mesh", "Neural Lattice", "Photon Cache", "Vector Forge",
    "Graph Kernel", "Stream Weaver", "Tensor Fabric", "Cipher Grid",
    "Plasma Index", "Signal Loom",
]

# predicate -> (subj_type, obj_type, sentence template)
RELATION_TEMPLATES: dict[str, tuple[str, str, str]] = {
    "founded_by": ("ORG", "PERSON", "{s} was founded by {o}."),
    "headquartered_in": ("ORG", "PLACE", "{s} is headquartered in {o}."),
    "acquired": ("ORG", "ORG", "{s} acquired {o}."),
    "works_at": ("PERSON", "ORG", "{s} works at {o}."),
    "born_in": ("PERSON", "PLACE", "{s} was born in {o}."),
    "develops": ("ORG", "TECH", "{s} develops {o}."),
    "partnered_with": ("ORG", "ORG", "{s} partnered with {o}."),
    "ceo_of": ("PERSON", "ORG", "{s} is the chief executive of {o}."),
    "invested_in": ("ORG", "ORG", "{s} invested in {o}."),
    "located_in": ("PLACE", "PLACE", "{s} is located near {o}."),
}

_FILLER_WORDS = (
    "the market report shows steady growth across regional sectors while "
    "analysts expect further updates on infrastructure supply chains and "
    "quarterly revenue figures during the coming fiscal review period"
).split()


def _slugify(name: str) -> str:
    return name.lower().replace(" ", "-").replace(".", "")


def _abbrev(name: str) -> str:
    """Abbreviated surface variant: keep first word, initial the rest."""
    parts = name.split(" ")
    if len(parts) == 1:
        return name
    return parts[0] + " " + " ".join(p[0] + "." for p in parts[1:])


def _typo(name: str) -> str:
    """Deterministic typo variant: double the 3rd letter of the first word."""
    if len(name) < 4:
        return name + "x"
    return name[:3] + name[2] + name[3:]


@lru_cache(maxsize=1)
def gazetteer() -> dict:
    """Entity pool: canonical_id -> (canonical_name, type, variants).

    variants[0] = canonical, [1] = abbreviation (in alias dict),
    [2] = typo (NOT in alias dict — must be caught by LSH/linking).
    """
    ents: dict[str, tuple[str, str, list[str]]] = {}

    def add(name: str, typ: str) -> None:
        eid = f"{typ.lower()}:{_slugify(name)}"
        variants = [name]
        ab = _abbrev(name)
        if ab != name:
            variants.append(ab)
        ty = _typo(name)
        if ty not in variants:
            variants.append(ty)
        ents[eid] = (name, typ, variants)

    for a in _ORG_A:
        for b in _ORG_B:
            add(f"{a} {b}", "ORG")
    for f in _FIRST:
        for l in _LAST:
            add(f"{f} {l}", "PERSON")
    for p in _PLACES:
        add(p, "PLACE")
    for t in _TECH:
        add(t, "TECH")
    return ents


@lru_cache(maxsize=1)
def entities_by_type() -> dict[str, list[str]]:
    by_t: dict[str, list[str]] = {}
    for eid, (_, typ, _) in gazetteer().items():
        by_t.setdefault(typ, []).append(eid)
    for v in by_t.values():
        v.sort()
    return by_t


def alias_rows() -> list[dict]:
    """Alias dictionary rows (canonical + abbreviation variants only)."""
    rows = []
    for eid, (name, typ, variants) in sorted(gazetteer().items()):
        rng = random.Random(f"{SEED}:alias:{eid}")
        for j, v in enumerate(variants[:2]):  # typo variant deliberately absent
            rows.append(
                {
                    "alias": v.lower(),
                    "canonical_id": eid,
                    "entity_type": typ,
                    "weight": round(0.5 + 0.5 * rng.random(), 6),
                    "source": ["user", "ai", "imported"][rng.randrange(3)],
                    "is_primary": j == 0,
                }
            )
    return rows


# ------------------------------------------------------------------- pages

_HOT_URLS = [f"https://hot.example.org/h{k}" for k in range(3)]
_HOT_ENTITY = "org:acme-systems"  # appears at high frequency → skew
_EPOCH = _dt.datetime(2025, 1, 1, tzinfo=_dt.timezone.utc)

_LANGS = {17: "de", 18: "fr", 19: "es"}
_NON_EN_WORDS = {
    "de": "der bericht zeigt stetiges wachstum in allen regionalen sektoren".split(),
    "fr": "le rapport montre une croissance stable dans tous les secteurs".split(),
    "es": "el informe muestra un crecimiento estable en todos los sectores".split(),
}


def _pick_surface(rng: random.Random, eid: str) -> str:
    """Pick a surface variant: 60% canonical, 25% abbrev, 15% typo."""
    variants = gazetteer()[eid][2]
    r = rng.random()
    if r < 0.60 or len(variants) == 1:
        return variants[0]
    if r < 0.85 or len(variants) == 2:
        return variants[1]
    return variants[2]


def page_relations(i: int) -> list[tuple[str, str, str, str, str]]:
    """Planted relations for page i: (subj_id, pred, obj_id, subj_surface, obj_surface)."""
    if _LANGS.get(i % 20):
        return []  # non-en pages carry no relations
    rng = random.Random(f"{SEED}:rel:{i}")
    by_t = entities_by_type()
    n_rel = 2 + rng.randrange(4)
    preds = sorted(RELATION_TEMPLATES)
    out = []
    for _ in range(n_rel):
        pred = preds[rng.randrange(len(preds))]
        st, ot, _tpl = RELATION_TEMPLATES[pred]
        if rng.random() < 0.04:
            subj = _HOT_ENTITY if st == "ORG" else by_t[st][rng.randrange(len(by_t[st]))]
        else:
            subj = by_t[st][rng.randrange(len(by_t[st]))]
        obj = by_t[ot][rng.randrange(len(by_t[ot]))]
        if obj == subj:
            obj = by_t[ot][(by_t[ot].index(obj) + 1) % len(by_t[ot])]
        out.append((subj, pred, obj, _pick_surface(rng, subj), _pick_surface(rng, obj)))
    return out


def _filler_sentence(rng: random.Random, lang: str) -> str:
    words = _NON_EN_WORDS.get(lang, _FILLER_WORDS)
    n = 6 + rng.randrange(8)
    toks = [words[rng.randrange(len(words))] for _ in range(n)]
    if lang == "en" and rng.random() < 0.25:  # entity mention without a relation
        by_t = entities_by_type()
        typ = ["ORG", "PERSON", "PLACE", "TECH"][rng.randrange(4)]
        eid = by_t[typ][rng.randrange(len(by_t[typ]))]
        toks.insert(rng.randrange(len(toks)), _pick_surface(rng, eid))
    if lang == "en" and rng.random() < 0.10:
        toks.insert(rng.randrange(len(toks)), "profit &amp; loss")
    s = " ".join(toks)
    return s[0].upper() + s[1:] + "."


def page_record(i: int, heavy: bool = False) -> dict:
    """Pure function id -> page row. No wall-clock, no global RNG.

    ``heavy=True`` pads pages with ~8x more filler prose (realistic
    Common-Crawl page weight, used by throughput/scaling benchmarks).
    The default shape is what the frozen golden fixtures cover — never
    change it without re-freezing.
    """
    rng = random.Random(f"{SEED}:page:{i}")
    lang = _LANGS.get(i % 20, "en")

    # url assignment: hot urls, duplicate-url pairs, else unique
    if i % 37 == 11:
        url = _HOT_URLS[i % len(_HOT_URLS)]
    elif i % 20 == 7 and i > 0:
        url = f"https://example.org/site{(i - 1) % 13}/page{i - 1}"  # dup of page i-1
    else:
        url = f"https://example.org/site{i % 13}/page{i}"
    warc_ts = _EPOCH + _dt.timedelta(seconds=i)

    rels = page_relations(i)
    sentences: list[str] = []
    n_filler = 3 + rng.randrange(5) + (35 if heavy else 0)
    fillers = [_filler_sentence(rng, lang) for _ in range(n_filler)]
    for k, (_, pred, _, ss, os_) in enumerate(rels):
        sentences.append(RELATION_TEMPLATES[pred][2].format(s=ss, o=os_))
        if k < len(fillers):
            sentences.append(fillers[k])
    sentences.extend(fillers[len(rels):])

    title = f"Report {i} — sector brief"
    paras = []
    for s in sentences:
        if rng.random() < 0.3:
            # bold a random word span to exercise inline-tag stripping
            ws = s.split(" ")
            j = rng.randrange(len(ws))
            ws[j] = f"<b>{ws[j]}</b>"
            s = " ".join(ws)
        paras.append(f"<p>{s}</p>")
    html = (
        "<html><head><title>" + title + "</title>"
        "<script>var x=1;/*noise " + str(i) + "*/</script>"
        "<style>p{margin:0}</style></head>\n"
        "<body><!-- generated page -->\n"
        "<nav><a href='/'>home</a> <a href='/about'>about</a></nav>\n"
        "<h1>" + title + "</h1>\n" + "\n".join(paras) + "\n"
        "<footer>crawl id " + str(i) + "</footer></body></html>"
    )
    return {
        "url": url,
        "warc_ts": warc_ts,
        "html": html.encode("utf-8"),
        "text": None,  # pipeline recomputes from html
        "lang": lang,
    }


def generate_pages(
    spark: SparkSession,
    n_pages: int,
    partitions: int | None = None,
    heavy: bool = False,
) -> DataFrame:
    """Distributed generation: spark.range → mapInPandas, one pure fn of id."""
    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [page_record(int(i), heavy=heavy) for i in b["id"]]
            yield pd.DataFrame(rows, columns=[f.name for f in PAGES_SCHEMA.fields])

    return spark.range(0, n_pages, numPartitions=parts).mapInPandas(gen, PAGES_SCHEMA)


def alias_df(spark: SparkSession) -> DataFrame:
    # dictionary-sized: one partition, or every collect/broadcast of it
    # schedules defaultParallelism tasks
    return spark.createDataFrame(pd.DataFrame(alias_rows()), schema=ALIASES_SCHEMA).coalesce(1)


def golden_triples_local(n_pages: int) -> list[dict]:
    """Ground-truth planted triples (canonical ids + surfaces) for P/R checks.

    Mirrors the pipeline's per-url dedup (C13): when several pages share a
    url (duplicate pairs, hot urls), only the LATEST ``warc_ts`` page's
    relations survive — warc_ts is monotone in page id, so that's max(i).
    """
    latest: dict[str, int] = {}
    for i in range(n_pages):
        rec = page_record(i)
        if latest.get(rec["url"], -1) < i:
            latest[rec["url"]] = i
    out = []
    for url, i in sorted(latest.items()):
        for subj, pred, obj, ss, os_ in page_relations(i):
            out.append(
                {
                    "url": url,
                    "subj_id": subj,
                    "pred": pred,
                    "obj_id": obj,
                    "subj_surface": ss,
                    "obj_surface": os_,
                }
            )
    return out
