"""Seeded listing-site generator for the ``etl_regions`` workload.

Writes the HTML pages one region serves at one tick, in the markup the
``rumah123_listings`` source parses, and keeps the table state the
staged Postgres merge must converge to. Every card link carries the
region and the seed (``/properti/<region id>/<seed>-<n>``), so regions
and seeds never collide on the merge key.

Each tick of a region mixes listings that are new, listings whose
values changed since the last tick and listings republished unchanged.
As in the package's own fixtures, ~10% of the cards have no listing
anchor (null link, dropped by cleaning) and ~15% repeat a link already
shown earlier in the same tick with different values (keep-first
dedup keeps the earlier card).

The expected clean row of a card is computed from the values the
generator chose, not by parsing the HTML.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, replace

DISTRICTS = ["Barat", "Timur", "Utara", "Pusat", "Kota", "Baru"]
#: badge text -> features after the property-type head is dropped
BADGES = {
    "RumahKPRBisaNego": ["KPR", "Bisa", "Nego"],
    "ApartemenFullFurnished": ["Full", "Furnished"],
    "VillaDekatPantai": ["Dekat", "Pantai"],
    "RumahSiapHuni": ["Siap", "Huni"],
}
NULL_SHARE = 0.10
DUP_SHARE = 0.15
#: shares of a later tick's distinct listings
UNCHANGED_SHARE = 0.5
CHANGED_SHARE = 0.2


@dataclass(frozen=True)
class Listing:
    lid: int
    admin: str
    badge: str
    bed: int
    carport: int
    lot: int
    bld: int
    price_kind: str  # juta | miliar | ask | bare
    price_val: int
    rev: int = 0


def _price_text(kind: str, val: int) -> str:
    if kind == "juta":
        return f"Rp {val} Juta"
    if kind == "miliar":  # val is in tenths of a miliar
        return f"Rp {val // 10},{val % 10} Miliar" if val % 10 else f"Rp {val // 10} Miliar"
    if kind == "ask":
        return "hubungi kami"
    return f"Rp {val}"  # unit-less: the cleaning contract maps it to null


def _price_value(kind: str, val: int) -> int | None:
    if kind == "juta":
        return val * 1_000_000
    if kind == "miliar":
        return val * 100_000_000
    return None


def _random_price(rng: random.Random) -> tuple[str, int]:
    roll = rng.random()
    if roll < 0.05:
        return "ask", 0
    if roll < 0.08:
        return "bare", rng.randint(100_000_000, 999_999_999)
    if roll < 0.55:
        return "juta", rng.randint(150, 995)
    return "miliar", rng.randint(10, 99)


def _random_listing(rng: random.Random, lid: int, admins: list[str]) -> Listing:
    kind, val = _random_price(rng)
    bed = rng.randint(2, 6)
    return Listing(
        lid=lid,
        admin=f"{rng.choice(admins)} {rng.choice(DISTRICTS)}",
        badge=rng.choice(list(BADGES)),
        bed=bed,
        carport=rng.randint(0, 2),
        lot=rng.randint(60, 400),
        bld=rng.randint(36, 300),
        price_kind=kind,
        price_val=val,
    )


def _name(item: Listing) -> str:
    return f"Rumah {item.lid} r{item.rev}"


def card_html(link: str | None, item: Listing) -> str:
    anchor = '<a class="quick-label-badge" href="/promo">ad</a>'
    if link:
        anchor += f'<a href="{link}">listing</a>'
    return (
        '<div class="card-featured__middle-section">'
        f"{anchor}"
        '<div class="card-featured__middle-section__header-badge">'
        f"<span>{item.badge}</span></div>"
        f"<h2>{_name(item)}</h2>"
        '<div class="card-featured__middle-section__price">'
        f"<strong>{_price_text(item.price_kind, item.price_val)}</strong></div>"
        f"<span>Dijual</span><span>{item.admin}</span>"
        f'<span class="attribute-text">{item.bed}</span>'
        f'<span class="attribute-text">{item.bed - 1}</span>'
        f'<span class="attribute-text">{item.carport}</span>'
        f'<div class="attribute-info">Tanah : {item.lot} m&#178;</div>'
        f'<div class="attribute-info">Bangunan : {item.bld} m&#178;</div>'
        "</div>"
    )


def clean_row(link: str, item: Listing) -> tuple:
    """The row the pipeline must merge for this card, in
    ``pg.COLUMN_NAMES`` order (arrays rendered as compact JSON at the
    VARCHAR sink boundary)."""
    return (
        "rumah123.com" + link,
        "jual",
        "rumah",
        _name(item),
        item.admin,
        item.lot,
        item.bld,
        item.bed,
        item.bed - 1,
        item.carport,
        json.dumps(BADGES[item.badge], separators=(",", ":")),
        _price_value(item.price_kind, item.price_val),
    )


@dataclass
class RegionTick:
    fixture_dir: str
    rows: dict[str, tuple]  # link -> expected clean row (first card wins)


class ListingSite:
    """The seeded site: ``tick(region, k)`` must be called for k = 0, 1,
    2, ... in order per region; the content of tick k depends only on
    the seed, the region and k."""

    def __init__(self, seed: int, out_dir: str, pages: int, cards_per_page: int):
        self.seed = seed
        self.out_dir = out_dir
        self.pages = pages
        self.cards_per_page = cards_per_page
        self._published: dict[str, dict[int, Listing]] = {}
        self._next_lid: dict[str, int] = {}
        #: link -> row: what property_rumah must hold
        self.expected: dict[str, tuple] = {}

    def _link(self, region_id: str, lid: int) -> str:
        return f"/properti/{region_id}/{self.seed}-{lid}"

    def tick(self, region, k: int) -> RegionTick:
        rng = random.Random(f"{self.seed}|{region.id}|{k}")
        published = self._published.setdefault(region.id, {})
        n_cards = self.pages * self.cards_per_page
        n_unique = round(n_cards * (1 - NULL_SHARE - DUP_SHARE))

        def new_item() -> Listing:
            lid = self._next_lid.get(region.id, 0)
            self._next_lid[region.id] = lid + 1
            return _random_listing(rng, lid, region.admins)

        items: list[Listing] = []
        if published:
            old = rng.sample(sorted(published), min(len(published), n_unique))
            n_same = round(n_unique * UNCHANGED_SHARE)
            n_changed = round(n_unique * CHANGED_SHARE)
            for lid in old[:n_same]:
                items.append(published[lid])
            for lid in old[n_same:n_same + n_changed]:
                kind, val = _random_price(rng)
                items.append(
                    replace(published[lid], price_kind=kind, price_val=val,
                            rev=published[lid].rev + 1)
                )
        while len(items) < n_unique:
            items.append(new_item())
        rng.shuffle(items)
        for item in items:
            published[item.lid] = item

        cards: list[tuple[str | None, Listing]] = [
            (self._link(region.id, it.lid), it) for it in items
        ]
        while len(cards) < n_cards:
            if rng.random() < NULL_SHARE / (NULL_SHARE + DUP_SHARE):
                cards.insert(rng.randrange(len(cards) + 1), (None, new_item()))
            else:
                # a stale copy of a listing shown earlier on the pages
                pos = rng.randrange(1, len(cards) + 1)
                link = rng.choice([c[0] for c in cards[:pos] if c[0]] or [cards[0][0]])
                stale = _random_listing(rng, -1, region.admins)
                cards.insert(pos, (link, stale))

        rows: dict[str, tuple] = {}
        for link, item in cards:
            if link and ("rumah123.com" + link) not in rows:
                rows["rumah123.com" + link] = clean_row(link, item)

        fixture_dir = os.path.join(self.out_dir, region.id, f"t{k}")
        os.makedirs(fixture_dir, exist_ok=True)
        per = self.cards_per_page
        for page in range(self.pages):
            chunk = cards[page * per:(page + 1) * per]
            html = "<html><body>" + "".join(card_html(l, it) for l, it in chunk) + "</body></html>"
            with open(os.path.join(fixture_dir, f"page_{page + 1}.html"), "w") as fh:
                fh.write(html)
        return RegionTick(fixture_dir, rows)

    def apply(self, rows: dict[str, tuple]) -> tuple[int, int, int]:
        """Merge one region run's rows into the expected table state;
        returns (fresh, changed, unchanged) counts."""
        fresh = changed = same = 0
        for link, row in rows.items():
            prev = self.expected.get(link)
            if prev is None:
                fresh += 1
            elif prev != row:
                changed += 1
            else:
                same += 1
            self.expected[link] = row
        return fresh, changed, same
