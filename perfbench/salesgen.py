"""Seeded generator of reference-shaped sales CSVs with known answers.

Every file follows the landing layout of ``Sales_January_2019.csv``
(six string columns, header first, quoted addresses) and carries each
defect class of FIXTURES.md §A1:

* repeated header rows mid-file      -> invalid, ``cast_failure``
* fully blank rows (``,,,,,``)       -> invalid, ``null_required_field``
* exact duplicate rows               -> collapsed by the full-row distinct
* a null ``Order ID`` on a valid row -> kept, assigned ``max + n``
* an unparseable date, quantity and price -> invalid, ``cast_failure``
* a mid-batch price change           -> a second SCD2 product version
* the same city name in two states   -> two branches of the hierarchy

The generator does not count by re-reading what it wrote: it tracks
every line it emits, so :class:`Expected` is derived from the same
decisions that produced the file.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field

HEADER = "Order ID,Product,Quantity Ordered,Price Each,Order Date,Purchase Address"

#: The reference month's 19 products and their prices in cents.
PRODUCTS = {
    "USB-C Charging Cable": 1195,
    "Lightning Charging Cable": 1495,
    "AAA Batteries (4-pack)": 299,
    "AA Batteries (4-pack)": 384,
    "Wired Headphones": 1199,
    "Apple Airpods Headphones": 15000,
    "Bose SoundSport Headphones": 9999,
    "27in FHD Monitor": 14999,
    "27in 4K Gaming Monitor": 38999,
    "34in Ultrawide Monitor": 37999,
    "Flatscreen TV": 30000,
    "20in Monitor": 10999,
    "iPhone": 70000,
    "Google Phone": 60000,
    "Vareebadd Phone": 40000,
    "Macbook Pro Laptop": 170000,
    "ThinkPad Laptop": 99999,
    "LG Washing Machine": 60000,
    "LG Dryer": 60000,
}

#: Cheap accessories sell far more often than laptops, as in the reference.
_WEIGHTS = [
    1 / (1 + price / 2000) for price in PRODUCTS.values()
]

#: (city, state, postal): Portland appears in two states.
CITIES = [
    ("San Francisco", "CA", "94016"),
    ("Los Angeles", "CA", "90001"),
    ("New York City", "NY", "10001"),
    ("Boston", "MA", "02215"),
    ("Atlanta", "GA", "30301"),
    ("Dallas", "TX", "75001"),
    ("Seattle", "WA", "98101"),
    ("Portland", "OR", "97035"),
    ("Austin", "TX", "73301"),
    ("Portland", "ME", "04101"),
]

_STREETS = (
    "Walnut Main Park Oak Pine Maple Cedar Elm Washington Lake Hill "
    "Church Spruce Ridge Lincoln Jackson Adams Jefferson Highland "
    "Sunset Meadow Forest River Center Willow Cherry Chestnut Hickory "
    "Madison Johnson Wilson Dogwood Lakeview Railroad North South "
    "Eighth Ninth Tenth Eleventh"
).split()
_SUFFIXES = ("St", "Ave", "Dr", "Ln", "Rd")


@dataclass
class Expected:
    """What the ETL must report for one generated file."""

    landing: int = 0
    invalid: dict[str, int] = field(default_factory=dict)
    cleansed: int = 0
    quantity: int = 0
    revenue_cents: int = 0
    #: distinct (product, price) versions among the valid lines
    products: int = 0
    #: distinct addresses among the valid lines
    locations: int = 0
    first_day: dt.date | None = None
    last_day: dt.date | None = None

    @property
    def days(self) -> int:
        return (self.last_day - self.first_day).days + 1

    @property
    def dense(self) -> int:
        return self.days * self.products * self.locations


@dataclass
class _Line:
    order_id: int | None
    product: str
    qty: int
    cents: int
    ts: dt.datetime
    address: tuple[str, int]

    def render(self) -> str:
        street, city_ix = self.address
        city, state, postal = CITIES[city_ix]
        oid = "" if self.order_id is None else str(self.order_id)
        price = f"{self.cents // 100}.{self.cents % 100:02d}"
        return (
            f"{oid},{self.product},{self.qty},{price},"
            f"{self.ts:%m/%d/%y %H:%M},\"{street}, {city}, {state} {postal}\""
        )


class SalesGenerator:
    """Seeded source of sales batches that share an address book, a
    price list and an order-id sequence, so a base month and later
    daily drops describe one consistent business."""

    def __init__(self, seed: int, addresses: int):
        self.rng = random.Random(seed)
        self.prices = dict(PRODUCTS)
        self.next_order_id = 141234
        #: every (product, price in cents) sold so far: the SCD2 versions
        self.versions: set[tuple[str, int]] = set()
        self._pool: list[tuple[str, int]] = []
        self._known: set[tuple[str, int]] = set()
        self._add_addresses(addresses)

    def active_prices(self) -> dict[str, int]:
        """The price of each product's newest sold version, in cents."""
        active: dict[str, int] = {}
        for product, cents in self.versions:
            active[product] = max(cents, active.get(product, 0))
        return active

    def _add_addresses(self, n: int) -> list[tuple[str, int]]:
        added = []
        while len(added) < n:
            known = len(self._known)
            addr = (
                f"{self.rng.randint(1, 999)} {self.rng.choice(_STREETS)} "
                f"{self.rng.choice(_SUFFIXES)}",
                # every city, both Portlands included, has an address
                known if known < len(CITIES)
                else self.rng.randrange(len(CITIES)),
            )
            if addr not in self._known:
                self._known.add(addr)
                added.append(addr)
        self._pool.extend(added)
        return added

    def _change_price(self, product: str) -> None:
        # always a fresh, higher price: a version never reverts, so the
        # as-of price of every sale equals the price it was sold at
        self.prices[product] += 100 + self.rng.randrange(1, 100)

    def month(
        self, rows: int, start: dt.date, days: int = 32
    ) -> tuple[list[str], Expected]:
        """A batch of ``rows`` valid order lines spread over ``days``
        days, with one product's price raised from the middle day on."""
        changed = self.rng.choice(sorted(self.prices))
        change_day = start + dt.timedelta(days=days // 2)
        day_of = [
            start + dt.timedelta(days=self.rng.randrange(days))
            for _ in range(rows)
        ]
        # every day of the span is present, so the calendar is exact
        day_of[:days] = [start + dt.timedelta(days=d) for d in range(days)]
        day_of.sort()
        return self._batch(day_of, self._pool, changed, change_day)

    def drop(
        self, rows: int, day: dt.date, new_addresses: int,
        price_change: bool,
    ) -> tuple[list[str], Expected]:
        """One day's batch that introduces ``new_addresses`` addresses
        and, when ``price_change``, a new version of one product."""
        fresh = self._add_addresses(new_addresses)
        changed = self.rng.choice(sorted(self.prices)) if price_change else None
        return self._batch([day] * rows, fresh, changed, day)

    def _batch(
        self,
        day_of: list[dt.date],
        must_use: list[tuple[str, int]],
        changed: str | None,
        change_day: dt.date,
    ) -> tuple[list[str], Expected]:
        rng = self.rng
        names = list(self.prices)
        rows = len(day_of)
        valid: list[_Line] = []
        switched = changed is None
        for i, day in enumerate(day_of):
            product = rng.choices(names, _WEIGHTS)[0]
            if not switched and i == 0:
                product = changed  # a sale at the old price comes first
            if not switched and day >= change_day:
                self._change_price(changed)
                switched = True
                product = changed  # and one at the new price follows
            if i < len(must_use):
                addr = must_use[i]
            else:
                addr = rng.choice(self._pool)
            valid.append(
                _Line(
                    order_id=self.next_order_id,
                    product=product,
                    qty=rng.choices((1, 2, 3), (90, 8, 2))[0],
                    cents=self.prices[product],
                    ts=dt.datetime.combine(day, dt.time(
                        rng.randrange(24), rng.randrange(60))),
                    address=addr,
                )
            )
            self.next_order_id += 1

        # valid lines with no order id: the cleanse assigns max + n
        for line in rng.sample(valid, max(1, rows // 2000)):
            line.order_id = None
        lines = [line.render() for line in valid]
        if len(set(lines)) != len(lines):
            # two id-less lines rendered alike would count once here but
            # twice after the cleanse numbers them; give one back its id
            seen: set[str] = set()
            for j, line in enumerate(valid):
                if lines[j] in seen:
                    line.order_id = self.next_order_id
                    self.next_order_id += 1
                    lines[j] = line.render()
                seen.add(lines[j])

        self.versions |= {(v.product, v.cents) for v in valid}
        exp = Expected()
        exp.cleansed = len(valid)
        exp.quantity = sum(v.qty for v in valid)
        exp.revenue_cents = sum(v.qty * v.cents for v in valid)
        exp.products = len({(v.product, v.cents) for v in valid})
        exp.locations = len({v.address for v in valid})
        exp.first_day = min(day_of)
        exp.last_day = max(day_of)

        n_dup = max(1, rows * 50 // 9723)
        n_header = max(1, rows * 16 // 9723)
        n_blank = max(1, rows * 26 // 9723)
        n_bad = max(1, rows // 20000)
        with_id = [j for j, v in enumerate(valid) if v.order_id is not None]
        extra = [lines[j] for j in rng.sample(with_id, n_dup)]
        extra += [HEADER] * n_header + [",,,,,"] * n_blank
        for _ in range(n_bad):
            for col, junk in ((4, "not-a-date"), (2, "two"), (3, "n/a")):
                fields = valid[rng.randrange(rows)].render().split(",", 5)
                fields[col] = junk
                extra.append(",".join(fields))
        exp.invalid = {
            "null_required_field": n_blank,
            "cast_failure": n_header + 3 * n_bad,
        }
        out = lines + extra
        rng.shuffle(out)
        exp.landing = len(out)
        return out, exp


def write_csv(path: str, lines: list[str]) -> int:
    """Write a batch with its header; returns the bytes written."""
    text = "\n".join([HEADER, *lines]) + "\n"
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(text)
    return len(text.encode("utf-8"))
