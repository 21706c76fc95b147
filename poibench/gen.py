"""Seeded input generators for the workloads.

Everything here is plain Python: the same seed gives the same rows, and
the engine only ever sees the generated rows (staged as parquet by the
workloads). Row counts depend on the size profile alone, never on the
seed, so two seeds cost the same work; the seed moves names, texts,
coordinates and which POI gets which share of the candidate skew.

Candidates are planted from archetypes whose outcome is fixed by the
scoring rules, so the benchmark can check every output:

- ``accept``: exact POI name + "Paris" in the title, a 750xx postal code
  in the snippet, on the confirmed-authority domain (authority 1.0, no
  country conflict) -> ACCEPT, and it out-scores every other candidate
  of its POI, so it survives the per-source dedup and the per-POI cap;
- ``wrong_country``: a conflicting country in the title -> REJECT;
- ``no_signal``: no name, place or authority signal -> REJECT;
- ``excluded``: a social-network / review-site domain -> dropped by
  ``exclude_domains`` before scoring;
- ``mixed``: a partial name on a catalog or unknown domain, sometimes
  repeated as one or two language/utm/version URL variants (a dedup key
  collision; three copies overflow the dedup window's keep-2); its
  decision is not pinned.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass
from datetime import datetime, timedelta

AS_OF = datetime(2026, 8, 1)

# Paris bounding box the POIs and district grid live in
LAT0, LAT1 = 48.82, 48.90
LNG0, LNG1 = 2.25, 2.45

CATALOG = [
    # (source_id, base_url, type, authority)
    ("lefooding", "https://www.lefooding.com", "guide", 1.0),
    ("timeout_fr", "https://www.timeout.fr", "press", 0.8),
    ("sortiraparis", "https://www.sortiraparis.com", "local", 0.6),
    ("leblog", "https://food.leblog.fr", "blog", 0.5),
    ("parisbouge", "https://www.parisbouge.com", "local", 0.6),
    ("figaroscope", "https://www.lefigaro.fr", "press", 0.7),
]
MIXED_DOMAINS = [
    "www.timeout.fr", "www.sortiraparis.com", "food.leblog.fr",
    "www.parisbouge.com", "www.lefigaro.fr", "miamblog.net", "foodies-paris.org",
]
EXCLUDED_DOMAINS = ["www.facebook.com", "www.tripadvisor.fr", "fr.yelp.com", "www.instagram.com"]

PROFILES = [
    dict(city_slug="paris", city_names_aliases=["paris", "parís", "parigi"],
         country_code="FR", admin_names=["île-de-france", "grand paris"],
         postal_prefixes=["75", "750"], lat_min=48.8156, lat_max=48.9021,
         lng_min=2.2247, lng_max=2.4698, centroid_lat=48.8566, centroid_lng=2.3522,
         competing_cities=["lyon", "marseille"]),
    dict(city_slug="lyon", city_names_aliases=["lyon", "lyons"],
         country_code="FR", admin_names=["auvergne-rhône-alpes", "rhône"],
         postal_prefixes=["69", "690"], lat_min=45.7078, lat_max=45.8084,
         lng_min=4.7847, lng_max=4.9228, centroid_lat=45.7640, centroid_lng=4.8357,
         competing_cities=["paris", "marseille"]),
]

PREFIXES = ["Le", "La", "Chez", "Café", "Bistrot", "Maison", "Comptoir", "Atelier"]
NAME_WORDS = (
    "zinc servan ourcq marcel colette verveine sarrasin tilleul cerise "
    "amande figue olive poivre safran cannelle basilic romarin thym "
    "lavande mirabelle quetsche brioche galette crumble praline nougat "
    "marron chataigne noisette pistache vanille caramel sorbet granite "
    "comete etoile lune soleil nuage orage brume aurore crepuscule "
    "baleine renard hibou moineau merle loutre castor herisson blaireau "
    "ardoise craie granit marbre silex basalte quartz ambre opale jade"
).split()
TAGS = ["date-spot", "romantic", "tourist-trap", "work-friendly", "trendy", "new_spot", "established"]
CATEGORIES = ["restaurant", "bar", "cafe", "bakery"]
NOISE_WORDS = (
    "weather forecast stock market football transfer election recipe "
    "knitting gardening astronomy quantum chess tournament marathon "
    "volcano glacier satellite orbit painting sculpture violin opera"
).split()


@dataclass(frozen=True)
class Size:
    """Traffic dimensions of one size profile."""

    # daily_pipeline
    n_pois: int = 2000
    junk_places: int = 40          # gym-typed or nameless places the ingest gate drops
    # candidates per POI: Zipf over POI rank, ``max_candidates / rank^zipf_s``.
    # The rank-1 ("mega") POI sits at the reference scanner's cap of 100
    # (BASELINE.md: limits.max_candidates_per_poi); its ≤6 queries of up
    # to 30 results (cse_num) could return 180, so the cap binds there.
    # The reference records no per-POI distribution: s = 1 (classic
    # Zipf) and the floor of 1 are assumptions, stated in WORKLOADS.md.
    max_candidates: int = 100
    zipf_s: float = 1.0
    min_candidates: int = 1
    accept_share: float = 0.5      # POIs that get one planted ACCEPT candidate
    # dedup_index
    base_docs: int = 3000
    round_docs: int = 200
    exact_share: float = 0.1       # planted exact copies of live docs
    edited_share: float = 0.1      # planted near-duplicates (a few words edited)
    takedowns: int = 40            # docs removed on each maintenance round
    vocab: int = 4000
    doc_words: tuple[int, int] = (40, 70)


FULL = Size()
SMOKE = Size(
    n_pois=60, junk_places=4, max_candidates=20,
    base_docs=200, round_docs=40, takedowns=5, vocab=800,
)

_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def code(i: int) -> str:
    """Letters-only id (dedup keys strip trailing ``-digits`` runs)."""
    out = ""
    i += 26
    while i:
        i, r = divmod(i, 26)
        out = _LETTERS[r] + out
    return out


def slugify(name: str) -> str:
    return "-".join(name.lower().replace("é", "e").split())


def zipf_counts(n: int, top: int, s: float, floor: int = 1) -> list[int]:
    """Candidates per rank: ``top / rank^s``, at least floor."""
    return [max(floor, int(top / (r + 1) ** s)) for r in range(n)]


# ---------------------------------------------------------------------------
# POIs, areas, snapshots
# ---------------------------------------------------------------------------


def _names(rng: random.Random, n: int) -> list[str]:
    combos = [(p, a, b) for p in PREFIXES for a in NAME_WORDS for b in NAME_WORDS if a != b]
    picked = rng.sample(combos, n)
    return [f"{p} {a.capitalize()} {b.capitalize()}" for p, a, b in picked]


def make_pois(rng: random.Random, n: int, id_prefix: str) -> list[dict]:
    """POI rows (DOMAIN['poi'] field names). Every POI passes the
    ingest quality gate; ``tags`` drive the collection templates."""
    pois = []
    for i, name in enumerate(_names(rng, n)):
        tags = {}
        for t in rng.sample(TAGS, rng.randint(0, 3)):
            tags[t] = (round(0.3 + 0.7 * rng.random(), 3), "experience", rng.randint(1, 4))
        pois.append(dict(
            id=f"{id_prefix}{code(i)}",
            name=name,
            category=CATEGORIES[i % len(CATEGORIES)],
            city="Paris",
            city_slug="paris",
            country="France",
            lat=round(rng.uniform(LAT0 + 1e-3, LAT1 - 1e-3), 6),
            lng=round(rng.uniform(LNG0 + 1e-3, LNG1 - 1e-3), 6),
            rating=round(rng.uniform(4.3, 5.0), 1),
            reviews_count=rng.randint(50, 3000),
            eligibility_status="hold",
            tags=tags or None,
            first_seen_at=AS_OF - timedelta(days=rng.randint(0, 400)),
        ))
    return pois


def make_places(rng: random.Random, pois: list[dict], junk: int) -> list[tuple]:
    """Flat Places rows for ``ingest_places``: one per POI plus planted
    junk the gate must drop (a disallowed type, or no name)."""
    rows = [
        (p["id"], p["name"], [p["category"], "point_of_interest"], p["rating"],
         p["reviews_count"], p["lat"], p["lng"], f"{rng.randint(1, 99)} rue {p['name']}, 75011 Paris")
        for p in pois
    ]
    for j in range(junk):
        pid = f"junk-{code(j)}"
        if j % 2:
            rows.append((pid, f"Gym {code(j)}", ["gym"], 4.8, 900, 48.86, 2.33, "Paris"))
        else:
            rows.append((pid, None, ["bar"], 4.8, 900, 48.86, 2.33, "Paris"))
    return rows


def _box(lng0: float, lat0: float, lng1: float, lat1: float) -> str:
    return json.dumps({
        "type": "MultiPolygon",
        "coordinates": [[[[lng0, lat0], [lng1, lat0], [lng1, lat1], [lng0, lat1], [lng0, lat0]]]],
    })


def make_areas(cols: int = 5, rows: int = 4) -> list[tuple]:
    """A district grid covering the box (admin level 9) plus one
    neighbourhood (level 10) inside every other district."""
    out = []
    dlat, dlng = (LAT1 - LAT0) / rows, (LNG1 - LNG0) / cols
    for r in range(rows):
        for c in range(cols):
            a0, g0 = LAT0 + r * dlat, LNG0 + c * dlng
            k = r * cols + c
            out.append(("Paris", f"District {code(k)}", "admin", "9", None,
                        _box(g0, a0, g0 + dlng, a0 + dlat)))
            if k % 2 == 0:
                out.append(("Paris", f"Quartier {code(k)}", "admin", "10", None,
                            _box(g0 + dlng / 4, a0 + dlat / 4, g0 + 3 * dlng / 4, a0 + 3 * dlat / 4)))
    return out


def make_snapshots(rng: random.Random, pois: list[dict]) -> tuple[list[tuple], list[tuple]]:
    """(stored history, today's incoming captures). History is 0-6
    captures per POI; the incoming capture is due only where the last
    stored one is older than the 7-day cadence."""
    hist, incoming = [], []
    for p in pois:
        n = rng.randint(0, 6)
        for k in range(n):
            hist.append((p["id"], "google", round(rng.uniform(3.8, 5.0), 2),
                         max(0, p["reviews_count"] - k * rng.randint(0, 20)),
                         AS_OF - timedelta(days=2 + 4 * k + rng.randint(0, 2))))
        incoming.append((p["id"], "google", p["rating"], p["reviews_count"], AS_OF))
    return hist, incoming


# ---------------------------------------------------------------------------
# candidates
# ---------------------------------------------------------------------------


def _candidate(poi: dict, kind: str, j: int, rng: random.Random) -> dict:
    name, slug = poi["name"], slugify(poi["name"])
    tag = code(j)
    base = dict(poi_id=poi["id"], poi_name=name, city_slug="paris",
                poi_lat=poi["lat"], poi_lng=poi["lng"], published_at=None, kind=kind)
    if kind == "accept":
        postal = f"750{rng.randint(1, 20):02d}"
        return {**base, "url": f"https://www.lefooding.com/fr/restaurants/{slug}-{tag}",
                "title": f"{name} — Paris", "snippet": f"Restaurant rue {rng.choice(NAME_WORDS)} {postal}"}
    if kind == "wrong_country":
        return {**base, "url": f"https://travel-{tag}.example.de/best-of-germany",
                "title": f"Best restaurants in Germany {tag}", "snippet": f"{name} Berlin?"}
    if kind == "no_signal":
        words = " ".join(rng.sample(NOISE_WORDS, 6))
        return {**base, "url": f"https://random-{tag}.org/post", "title": words,
                "snippet": "nothing here", "poi_lat": None, "poi_lng": None}
    if kind == "excluded":
        dom = rng.choice(EXCLUDED_DOMAINS)
        return {**base, "url": f"https://{dom}/{slug}-{tag}", "title": f"{name} Paris",
                "snippet": "photos and reviews"}
    # mixed: one distinctive word of the name, maybe the city
    dom = rng.choice(MIXED_DOMAINS)
    word = name.split()[-1]
    city = rng.choice(["Paris", "", "Lyon"])
    return {**base, "url": f"https://{dom}/fr/{slug}-{tag}", "title": f"{word} {city} adresse",
            "snippet": f"notre avis sur {word.lower()} {rng.choice(NAME_WORDS)}"}


_MIX = ["mixed"] * 7 + ["wrong_country"] * 3 + ["no_signal"] * 3 + ["excluded"] * 2


def make_candidates(rng: random.Random, pois: list[dict], counts: list[int],
                    accept_share: float) -> list[dict]:
    """``counts[i]`` candidates for ``pois[i]``: at most one planted
    ACCEPT, the rest drawn from the mix; about one mixed candidate in
    four is followed by URL variants sharing its dedup key."""
    out = []
    j = 0
    for poi, n in zip(pois, counts):
        mine: list[dict] = []
        while len(mine) < n:
            first = not mine
            kind = "accept" if first and rng.random() < accept_share else rng.choice(_MIX)
            c = _candidate(poi, kind, j, rng)
            c["domain"] = c["url"].split("/")[2]   # search results carry their host
            j += 1
            mine.append(c)
            if kind == "mixed" and rng.random() < 0.25:
                mine.append(dict(c, url=c["url"].replace("/fr/", "/en/", 1) + "?utm_source=x"))
                if rng.random() < 0.5:   # a third copy: over the dedup window's keep-2
                    mine.append(dict(c, url=c["url"] + "-v2"))
        out.extend(mine[:n])   # a trailing variant may overshoot: totals stay fixed
    return out


CANDIDATE_COLS = ["poi_id", "poi_name", "city_slug", "url", "title", "snippet",
                  "domain", "poi_lat", "poi_lng", "published_at"]


@dataclass
class DailyInputs:
    pois: list[dict]
    places: list[tuple]
    areas: list[tuple]
    snapshots: list[tuple]
    incoming_snapshots: list[tuple]
    candidates: list[dict]


def daily_inputs(seed: int, size: Size) -> DailyInputs:
    rng = random.Random(seed)
    pois = make_pois(rng, size.n_pois, "poi-")
    counts = zipf_counts(size.n_pois, size.max_candidates, size.zipf_s, size.min_candidates)
    order = list(range(size.n_pois))
    rng.shuffle(order)                      # which POI is mega/hot moves with the seed
    ranked = [pois[i] for i in order]
    hist, incoming = make_snapshots(rng, pois)
    return DailyInputs(
        pois=pois,
        places=make_places(rng, pois, size.junk_places),
        areas=make_areas(),
        snapshots=hist,
        incoming_snapshots=incoming,
        candidates=make_candidates(rng, ranked, counts, size.accept_share),
    )


# ---------------------------------------------------------------------------
# text index documents
# ---------------------------------------------------------------------------


class DocSource:
    """Random-word documents over a fixed vocabulary (cross-document
    Jaccard ~ 0), with planted exact copies and edited near-copies."""

    def __init__(self, seed: int, size: Size):
        self.rng = random.Random(seed)
        self.size = size
        self.vocab = [f"w{code(i)}" for i in range(size.vocab)]
        self.next_id = 1

    def novel(self) -> tuple[int, str]:
        n = self.rng.randint(*self.size.doc_words)
        doc_id, self.next_id = self.next_id, self.next_id + 1
        return doc_id, " ".join(self.rng.sample(self.vocab, n))

    def edited(self, text: str) -> str:
        """Replace one word in twenty: Jaccard to the source stays
        around 0.9, far above the probe threshold."""
        words = text.split()
        for i in self.rng.sample(range(len(words)), max(1, len(words) // 20)):
            words[i] = self.rng.choice(self.vocab)
        return " ".join(words)

    def round_batch(self, live: dict[int, str], n: int, removed: list[int],
                    removed_text: dict[int, str]) -> tuple[list[tuple[int, str]], dict]:
        """``n`` incoming docs: exact copies and edited copies of live
        docs, one exact copy of each doc taken down last round (must
        now match nothing), the rest novel. Returns (rows, plan) where
        plan maps incoming id -> (kind, source id)."""
        n_exact = int(n * self.size.exact_share)
        n_edit = int(n * self.size.edited_share)
        sources = self.rng.sample(sorted(live), n_exact + n_edit)
        rows, plan = [], {}
        for k, src in enumerate(sources):
            doc_id, self.next_id = self.next_id, self.next_id + 1
            kind = "exact" if k < n_exact else "edited"
            text = live[src] if kind == "exact" else self.edited(live[src])
            rows.append((doc_id, text))
            plan[doc_id] = (kind, src)
        for src in removed:
            doc_id, self.next_id = self.next_id, self.next_id + 1
            rows.append((doc_id, removed_text[src]))
            plan[doc_id] = ("removed", src)
        while len(rows) < n + len(removed):
            doc_id, text = self.novel()
            rows.append((doc_id, text))
            plan[doc_id] = ("novel", None)
        self.rng.shuffle(rows)
        return rows, plan


def jaccard(a: str, b: str) -> float:
    """Plain-Python twin of the index's word-set Jaccard."""
    sa, sb = set(a.lower().split()), set(b.lower().split())
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)
