"""Deterministic CrossRef-shaped corpus for the benchmark.

``make_corpus(seed, n_a, n_b)`` returns corpus A (the first harvest of a
window) and batch B (a later re-run of the same window). It needs no
download: every value comes from ``random.Random(seed)`` and md5 digests,
so one seed always gives the same bytes (``write_jsonl``).

It covers the edge cases of ``ups_crossref_etl_spark.fixtures.make_works``:
DOI form variants of one DOI, HTML entities and runs of whitespace in
titles and journals, null counts, literal-name-only, empty-name and
affiliationless authors, sequence promotion, two-pattern and "nan"
country traps, non-UPS works, missing DOI, missing or invalid dates.

Authors are drawn from a pool of people with a skewed (Zipf-like) weight,
so many people write several works and identity components are not all
singletons. A mention renders its person with or without accents and
with or without the ORCID (bare or as an orcid.org URL); some mentions
use an initial plus the ORCID, which links a new spelling to a known
person.

Batch B is made of exact re-fetches of A items (same DOI) and new works
whose authors are people already seen in A, under new spellings or with
an ORCID that A never showed for them. ``corpus_stats`` states the share
of people who recur across works and B's overlap with A.
"""

from __future__ import annotations

import hashlib
import json
import random

UPS = "Universidad Politécnica Salesiana"

GIVEN = [
    ("José", "Jose"), ("María", "Maria"), ("Lucía", "Lucia"), ("Andrés", "Andres"),
    ("Raúl", "Raul"), ("Sofía", "Sofia"), ("Iván", "Ivan"), ("Mónica", "Monica"),
    ("Óscar", "Oscar"), ("Ana", "Ana"), ("Luis", "Luis"), ("Pedro", "Pedro"),
    ("Elena", "Elena"), ("Jorge", "Jorge"), ("Camila", "Camila"), ("Diego", "Diego"),
]
FAMILY = [
    ("García", "Garcia"), ("Pérez", "Perez"), ("Muñoz", "Munoz"), ("Peña", "Pena"),
    ("Ordóñez", "Ordonez"), ("Vásquez", "Vasquez"), ("Cárdenas", "Cardenas"),
    ("Guamán", "Guaman"), ("Loja", "Loja"), ("Calle", "Calle"), ("Torres", "Torres"),
    ("Zhu", "Zhu"), ("Rossi", "Rossi"), ("Silva", "Silva"), ("Quishpe", "Quishpe"),
    ("Chen", "Chen"), ("Smith", "Smith"), ("Dubois", "Dubois"),
]
UPS_AFFS = [
    f"{UPS}, Cuenca, Ecuador",
    f"{UPS}, Quito, Ecuador",
    f"{UPS}, Guayaquil, Ecuador",
    f"{UPS}",
    f"{UPS} sede Guayaquil",
    f"{UPS} - Cuenca",
    f"Grupo GIHP4C, {UPS}, Cuenca, Ecuador",
    f"{UPS}, Quito",
]
OTHER_AFFS = [
    "Universidad de Granada, Spain",
    "Universidad Nacional de Colombia, Colombia",
    "Politecnico di Milano, Italy",
    "Tsinghua University, China",
    "Nanjing University, China",
    "Universidad de Cuenca, Ecuador",
    "MIT, USA",
    "Pontificia Universidad Católica del Perú, Peru",
    "Universidade de São Paulo, Brazil",
    "Instituto Ecuador-España de Madrid, Spain",
    "University of Toronto, Canada",
    "Universität Stuttgart, Germany",
    "Université de Paris, France",
]
JOURNALS = ["Energies", "Sustainability", "IEEE Access", "Revista Ciencia",
            "Revista de Investigaci&#243;n", "Ingenius", "  Alteridad  ", "Universitas"]
PUBLISHERS = ["MDPI", "IEEE", "Elsevier", "Springer", "Editorial  Abya-Yala", None]
TYPES = ["journal-article", "journal-article", "proceedings-article", "book-chapter"]
SUBJECTS = ["Energy", "Control", "IoT", "Education", "Health", "  Grid  ",
            "Sociology", "Computer Science"]
WORDS = ["smart", "grid", "learning", "P&amp;G", "Andean", "model", "water", "energy",
         "study", "network", "education", "analysis", "rural", "control", "data"]
DOI_FORMS = ["{}", "https://doi.org/{}", "https://dx.doi.org/{}", "doi: {}"]


def _md5(*parts) -> str:
    return hashlib.md5(":".join(map(str, parts)).encode()).hexdigest()


def _dp(*ymd):
    return {"date_parts": [list(ymd)]} if ymd else None


def _author(given=None, family=None, name=None, orcid=None, seq=None, affs=()):
    return {"given": given, "family": family, "name": name, "ORCID": orcid,
            "sequence": seq, "affiliation": [{"name": a} for a in affs]}


def _people(rng: random.Random, seed: int, n: int) -> list[dict]:
    people = []
    for i in range(n):
        given = rng.choice(GIVEN)
        family = [rng.choice(FAMILY)]
        if rng.random() < 0.4:
            family.append(rng.choice(FAMILY))
        h = _md5(seed, "orcid", i)
        orcid = (
            f"0000-000{int(h[0], 16) % 9 + 1}-{int(h[1:5], 16) % 10000:04d}-"
            f"{int(h[5:9], 16) % 10000:04d}"
            if rng.random() < 0.5
            else None
        )
        home = rng.choice(UPS_AFFS) if rng.random() < 0.45 else rng.choice(OTHER_AFFS)
        people.append({"given": given, "family": family, "orcid": orcid, "home": home})
    return people


def _render(rng: random.Random, p: dict, seq: str, affs: list[str],
            spelling: str | None = None, show_orcid: bool | None = None) -> dict:
    """One mention of person ``p``. ``spelling``: accented, plain or initial."""
    spelling = spelling or rng.choice(["accented", "accented", "plain"])
    if spelling == "initial":
        given = p["given"][1][0] + "."
    else:
        given = p["given"][0 if spelling == "accented" else 1]
    family = " ".join(f[0 if spelling != "plain" else 1] for f in p["family"])
    if rng.random() < 0.05:
        family = family.replace(" ", "  ") + " "  # whitespace runs collapse
    orcid = None
    if p["orcid"] and (show_orcid if show_orcid is not None else rng.random() < 0.6):
        orcid = p["orcid"] if rng.random() < 0.5 else "https://orcid.org/" + p["orcid"]
    return _author(given, family, orcid=orcid, seq=seq, affs=affs)


def _work(rng: random.Random, doi: str | None, authors: list[dict]) -> dict:
    y = rng.choice([2020, 2021, 2022, 2023, 2024, 2025])
    m, d = rng.randint(1, 12), rng.randint(1, 28)
    date_mode = rng.random()
    title = [" ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 6))).capitalize()]
    if rng.random() < 0.05:
        title = [title[0] + "   part", "Second   part"]
    subj = rng.sample(SUBJECTS, rng.randint(0, 2))
    if subj and rng.random() < 0.1:
        subj.append(subj[0])  # duplicate subject collapses in obra_tema
    return {
        "doi": doi,
        "title": title,
        "container_title": [rng.choice(JOURNALS)] if rng.random() < 0.95 else [],
        "publisher": rng.choice(PUBLISHERS),
        "type": rng.choice(TYPES),
        "is_referenced_by_count": rng.randint(0, 60) if rng.random() < 0.9 else None,
        "reference_count": rng.randint(0, 50) if rng.random() < 0.9 else None,
        "subject": subj or None,
        "author": authors,
        "published_online": _dp(y, m, d) if date_mode < 0.5 else None,
        "published_print": _dp(y, m) if 0.5 <= date_mode < 0.65 else None,
        # year 1234 is out of range and falls through to ``created``
        "issued": _dp(y) if 0.65 <= date_mode < 0.85 else (
            _dp(1234) if date_mode >= 0.97 else None),
        "created": _dp(y - 1, 12, 31) if date_mode < 0.985 else None,
    }


def _authors_for(rng: random.Random, people: list[dict], weights: list[float],
                 ups_work: bool) -> list[dict]:
    chosen = []
    for _ in range(rng.choices([1, 2, 3, 4, 5], [2, 4, 4, 2, 1])[0]):
        p = rng.choices(people, weights)[0]
        if all(p is not q for q in chosen):
            chosen.append(p)
    out = []
    for j, p in enumerate(chosen):
        affs = [p["home"]]
        if ups_work and j == 0 and UPS not in p["home"]:
            affs.append(rng.choice(UPS_AFFS))
        if not ups_work:
            affs = [a for a in affs if UPS not in a] or [rng.choice(OTHER_AFFS)]
        if rng.random() < 0.2:
            affs.append(rng.choice(OTHER_AFFS))
        spelling = "initial" if p["orcid"] and rng.random() < 0.08 else None
        out.append(_render(rng, p, "first" if j == 0 else "additional", affs, spelling,
                           show_orcid=True if spelling == "initial" else None))
    if rng.random() < 0.1 and len(out) > 1:
        # sequence promotion: a later duplicate mention carries 'first'
        out[0]["sequence"] = "additional"
        out.append(dict(out[0], sequence="first", affiliation=[{"name": OTHER_AFFS[2]}]))
    return out


def _edge_authors(rng: random.Random, i: int) -> list[dict]:
    """Literal-name-only, empty-name and affiliationless authors."""
    kind = i % 3
    if kind == 0:
        return [_author(name=f"Grupo GI{i % 7}", seq="first", affs=[f"{UPS} - Cuenca"])]
    if kind == 1:
        return [_author("Ana", "Loja", seq="first", affs=[f"{UPS}, Cuenca, Ecuador"]),
                _author("", "", name="  ", affs=[UPS])]
    return [_author("Rosa", "Vega", seq="first", affs=[f"{UPS}, Quito"]),
            _author("Solo", "SinAfiliacion", seq="additional", affs=[])]


def _doi(seed: int, kind: str, i: int) -> str:
    h = _md5(seed, kind, i)
    return f"10.{5000 + int(h[:4], 16) % 900}/{kind}.{h[4:14]}"


def _batch(rng: random.Random, seed: int, kind: str, n: int, people: list[dict],
           weights: list[float]) -> list[dict]:
    items = []
    for i in range(n):
        doi = _doi(seed, kind, i)
        r = rng.random()
        if r < 0.02:
            items.append(_work(rng, None, _authors_for(rng, people, weights, True)))
            continue
        if r < 0.06:
            authors = _edge_authors(rng, i)
        else:
            authors = _authors_for(rng, people, weights, rng.random() < 0.55)
        items.append(_work(rng, rng.choice(DOI_FORMS).format(doi), authors))
        if r > 0.98:
            # same DOI in another form and case: the within-batch dedup path
            dup = _work(rng, DOI_FORMS[1].format(doi.upper()), authors)
            items.append(dup)
    return items


def make_corpus(seed: int, n_a: int, n_b: int, kind: str = "a") -> tuple[list, list]:
    """(A, B): ``n_a`` harvested items and an ``n_b``-item re-run batch.

    ``kind`` namespaces the DOIs, so corpora of different kinds (for
    example the warm-up input) never share a DOI."""
    rng = random.Random(f"{seed}:{kind}")
    people = _people(rng, seed, max(8, int(n_a * 0.8)))
    weights = [1.0 / (k + 1) ** 0.8 for k in range(len(people))]
    a = _batch(rng, seed, kind, n_a, people, weights)

    # B: half exact re-fetches of single-form A items, half new works by
    # known people under new spellings or newly shown ORCIDs
    counts: dict[str, int] = {}
    for it in a:
        if it["doi"]:
            k = _std(it["doi"])
            counts[k] = counts.get(k, 0) + 1
    singles = [it for it in a if it["doi"] and counts[_std(it["doi"])] == 1]
    known = [p for p in people if p["orcid"]] or people
    b = [json.loads(json.dumps(it)) for it in rng.sample(singles, min(len(singles), n_b // 2))]
    for i in range(n_b - len(b)):
        authors = []
        for j, p in enumerate(rng.sample(known, min(len(known), rng.randint(1, 3)))):
            affs = [p["home"]] if j else [rng.choice(UPS_AFFS)]
            authors.append(_render(rng, p, "first" if j == 0 else "additional", affs,
                                   rng.choice(["plain", "initial", "accented"]),
                                   show_orcid=True))
        b.append(_work(rng, _doi(seed, kind + "b", i), authors))
    return a, b


def _std(doi: str) -> str:
    d = doi.strip().lower()
    for prefix in ("https://doi.org/", "https://dx.doi.org/", "doi: "):
        if d.startswith(prefix):
            d = d[len(prefix):]
    return d


def corpus_stats(a: list[dict], b: list[dict]) -> dict:
    """The two stated properties: recurring authors and B's overlap with A.

    People are identified by the ORCID when shown, else by the de-accented
    lower-case name, which is how the pipeline resolves them."""
    import unicodedata

    def key(au):
        if au.get("ORCID"):
            return "o:" + au["ORCID"].rsplit("/", 1)[-1]
        raw = " ".join(f"{au.get('given') or ''} {au.get('family') or ''}".split())
        raw = unicodedata.normalize("NFKD", raw)
        return "n:" + "".join(c for c in raw if not unicodedata.combining(c)).lower()

    works_of: dict[str, set] = {}
    for it in a:
        for au in it.get("author") or []:
            works_of.setdefault(key(au), set()).add(_std(it["doi"] or ""))
    recurring = sum(1 for s in works_of.values() if len(s) > 1)
    a_dois = {_std(it["doi"]) for it in a if it["doi"]}
    b_refetch = sum(1 for it in b if it["doi"] and _std(it["doi"]) in a_dois)
    new = [it for it in b if not (it["doi"] and _std(it["doi"]) in a_dois)]
    mentions = [au for it in new for au in it["author"]]
    known_names = {k for k in works_of if k.startswith("n:")}
    known_orcids = {k for k in works_of if k.startswith("o:")}
    known = sum(1 for au in mentions
                if key(au) in known_orcids or "n:" + key(dict(au, ORCID=None))[2:] in known_names)
    return {
        "a_items": len(a),
        "b_items": len(b),
        "recurring_author_share": round(recurring / max(1, len(works_of)), 4),
        "b_refetch_share": round(b_refetch / max(1, len(b)), 4),
        "b_new_known_author_share": round(known / max(1, len(mentions)), 4),
    }


def write_jsonl(items: list[dict], path: str) -> int:
    """Write one item per line (sorted keys, UTF-8); returns bytes written."""
    data = "".join(json.dumps(it, ensure_ascii=False, sort_keys=True) + "\n" for it in items)
    raw = data.encode("utf-8")
    with open(path, "wb") as f:
        f.write(raw)
    return len(raw)
