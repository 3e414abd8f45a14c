"""Seeded generator for reference-shaped uploads (FIXTURES.md A1-A6).

Everything here is plain Python: the program under test only ever sees
the files and tables this module writes. The same seed gives
byte-identical files.

- ``Vocabulary``: the four dimension dictionaries (A2) at the reference
  seed sizes, the 196-row country whitelist (A3), and the word pools the
  member rows draw from.
- ``UploadFactory``: member CSV files (A1) with header aliases and
  typos, sentinel nulls, HTML junk, invalid rows, off-whitelist
  countries and multi-valued cells with case-duplicate items. Each upload
  carries its ground truth (planted invalid rows, skipped rows, exact
  dictionary variants) for the benchmark's output checks.
- ``review_decisions``: the deterministic simulated reviewer (A5).
"""

from __future__ import annotations

import csv
import hashlib
import io
import random
from dataclasses import dataclass, field

DICT_SIZES = {"product": 4368, "ingredient": 2036, "certification": 586, "allergen": 100}
# the item kinds member rows carry; the certification and allergen
# dictionaries are still built and loaded, as the reference loads them
ITEM_KINDS = ("product", "ingredient")
N_COUNTRIES = 196

# Real food / supplement words. None of them triggers one of the
# program's variant rewrites (vit c, probiotic, gelatin, pectin, ...), so
# an exact variant of a title normalizes back to the title.
BASES = """Almond Apple Apricot Avocado Banana Barley Basil Bean Beet Blueberry Broccoli Buckwheat
Cabbage Cacao Carrot Cashew Cassava Celery Cherry Chia Chickpea Cinnamon Citrus Clove Coconut Coffee
Corn Cranberry Cucumber Cumin Date Dill Fennel Fig Flax Garlic Ginger Grape Hazelnut Hemp Honey Kale
Lavender Lemon Lentil Lime Mango Maple Millet Mint Mushroom Mustard Nutmeg Oat Olive Onion Orange
Oregano Papaya Paprika Parsley Pea Peach Peanut Pear Pecan Pepper Pineapple Pistachio Plum
Pomegranate Potato Pumpkin Quinoa Raisin Raspberry Rice Rosemary Rye Saffron Sage Sesame Sorghum Soy
Spinach Squash Strawberry Sunflower Tapioca Thyme Tomato Turmeric Vanilla Walnut Wheat Yam Zucchini
Whey Casein Collagen Cocoa Caramel Molasses Malt Yeast Kelp Spirulina Chlorella Matcha Hibiscus
Chamomile Elderberry Acerola Baobab Moringa Ashwagandha Maca Lucuma Sumac Tamarind Jackfruit Lychee
Guava Kiwi Persimmon Quince Rhubarb Sorrel Taro Jicama Okra Leek Shallot Radish Turnip Parsnip
Artichoke Asparagus Arugula Watercress Endive Chive Tarragon Marjoram Cardamom Anise Allspice
Juniper Licorice Carob Teff Spelt Amaranth Farro Freekeh Kamut Lupin Fava Mung Adzuki Edamame
Macadamia Brazil Chestnut Pinenut Tigernut Seaweed Nori Wakame Kombu Dulse Agave Coriander
Turbinado Jaggery Panela Sucralose Erythritol Xylitol Allulose Dextrose Maltodextrin Lecithin
Glycerin Citric Ascorbic Tocopherol Carotene Lycopene Lutein Quercetin Resveratrol Curcumin
Astaxanthin Glucosamine Chondroitin Melatonin Creatine Carnitine Taurine Caffeine Theanine Biotin
Riboflavin Niacin Folate Cobalamin Magnesium Calcium Potassium Sodium Zinc Iron Selenium Chromium
Copper Manganese Iodine Boron Silica Sulfur Phosphorus Molybdenum Electrolyte Bone Broth Beef Chicken
Turkey Salmon Tuna Cod Shrimp Crab Lobster Oyster Mussel Anchovy Sardine Mackerel Trout Duck Lamb
Pork Venison Bison Egg Butter Cream Yogurt Kefir Cheese Ricotta Mozzarella Cheddar Parmesan
Feta Ghee Tofu Tempeh Seitan Miso Tahini Hummus Salsa Pesto Chutney Relish Ketchup Mayonnaise""".split()

FORMS = """Powder Extract Oil Flour Syrup Paste Puree Concentrate Juice Flakes Seeds Chips Butter Milk
Protein Fiber Starch Sugar Vinegar Isolate Granules Crystals Blend Bar Snack Sauce Spread Tea Capsules
Tablets Gummies Drink Mix Crackers Cookies Cereal Noodles Pasta Bread Jam Soup Broth Dressing
Marinade Glaze Seasoning Rub Chutney Bites Clusters Crisps Puffs Wafers Smoothie Latte Tonic
Shot Elixir Infusion Tincture Softgels Lozenges Drops""".split()

MODIFIERS = """Organic Roasted Raw Dried Frozen Toasted Sprouted Fermented Smoked Sweetened Unsweetened
Natural Premium Classic Golden Wild Spiced Salted Whole Crushed Ground Instant Pure Vegan Keto
Gluten-Free Cold-Pressed Freeze-Dried Low-Fat Sugar-Free Mini Jumbo Crunchy Creamy Spicy Smoky
Tangy Zesty Honeyed Glazed Candied Pickled Marinated""".split()

CERT_TYPES = """Organic Kosher Halal Vegan Non-Gmo Fair-Trade Gluten-Free Paleo Keto Whole30
Rainforest Biodynamic Regenerative Carbon-Neutral Plastic-Neutral Cruelty-Free Grass-Fed
Pasture-Raised Free-Range Wild-Caught Sustainable Traceable Allergen-Aware Plant-Based Dairy-Free
Nut-Free Soy-Free Egg-Free Low-Fodmap Diabetic-Friendly Heart-Healthy""".split()
CERT_SUFFIX = ["Certified", "Verified", "Approved", "Standard", "Seal", "Label", "Program", "Mark"]

ALLERGEN_EXTRA = ["Traces", "Derived", "Protein", "Residue", "Dust", "Oil", "Flour", "Extract"]

ONSETS = "b br c ch cl d dr f fl g gl gr h j k kl l m n p pl pr qu r s sh sk sl sp st t th tr v w z".split()
VOWELS = "a e i o u ai ea io ou ie ee oo".split()
CODAS = ["", "", "", "n", "r", "l", "s", "x", "m", "th", "nd", "rk", "st", "lt"]
COMPANY_SUFFIX = ["Foods", "Naturals", "Labs", "Kitchen", "Farms", "Co", "Brands", "Nutrition", "Bakery",
                  "Provisions", "Organics", "Pantry", "Creamery", "Mills", "Harvest", "Collective"]
STREETS = ["Main St", "Oak Ave", "Market St", "Mill Rd", "Harbor Way", "Pine St", "Elm Dr", "River Rd"]

SENTINELS = ["", "null", "None", "N/A", "na", "NaN"]
SERVICE_COLUMNS = ["manufacturingServices", "logisticalServices", "laboratoryServices", "designServices",
                   "marketingServices", "regulatoryServices", "consultingServices", "suppliedPackaging"]

# Physical header choices per canonical column: the name itself, aliases
# from the reference's alias lists, spaced/Title-Case variants and typos.
# Every choice maps back to its column under the program's header mapper
# (pinned by the self-test).
HEADER_VARIANTS: dict[str, list[str]] = {
    "businessName": ["businessName", "Company Name", "company_name", "Business Name", "Organization", "Busness Name"],
    "contactEmail": ["contactEmail", "e-mail", "Email", "contact_email", "Primary Email", "Contact Emial"],
    "phone": ["phone", "Phone Number", "telephone", "Telephone", "Phoen"],
    "streetAddress1": ["streetAddress1", "Address", "Street Address", "street_address", "Stret Address"],
    "city1": ["city1", "City", "town", "Municipality", "Cty"],
    "stateOrProvince1": ["stateOrProvince1", "State", "Province", "state_or_province1"],
    "zipCode1": ["zipCode1", "zip_code", "Postal Code", "ZIP", "Zipcode"],
    "country1": ["country1", "Country", "nation", "Countr"],
    "companyBio": ["companyBio", "company bio", "Description", "About", "Company Description"],
    "website": ["website", "Website", "URL", "web_site", "Webiste"],
    "products": ["products", "Products", "product_list", "Product List", "Prodcts"],
    "ingredients": ["ingredients", "Ingredients", "ingredient_list", "Ingredient List", "Ingredents"],
    "manufacturingServices": ["manufacturingServices", "Manufacturing Services", "manufacturing"],
    "logisticalServices": ["logisticalServices", "Logistics Services", "logistics"],
    "laboratoryServices": ["laboratoryServices", "Lab Services", "laboratory_services"],
    "designServices": ["designServices", "Design Services", "design"],
    "marketingServices": ["marketingServices", "Marketing Services", "marketing"],
    "regulatoryServices": ["regulatoryServices", "Regulatory Services", "regulatory"],
    "consultingServices": ["consultingServices", "Consulting Services", "consulting"],
    "suppliedPackaging": ["suppliedPackaging", "Supplied Packaging", "packaging_supplied"],
}

def _md5_int(*parts: object) -> int:
    return int(hashlib.md5("|".join(map(str, parts)).encode()).hexdigest()[:12], 16)


# words the program's variant rules rewrite; a pseudo-word never equals one
_REWRITTEN = {"agar", "gelatin", "gelatine", "pectin", "inulin", "stevia", "probiotic", "prebiotic"}


def _pseudo_word(rng: random.Random, syllables: int) -> str:
    while True:
        word = "".join(rng.choice(ONSETS) + rng.choice(VOWELS) for _ in range(syllables)) + rng.choice(CODAS)
        if word not in _REWRITTEN:
            return word.capitalize()


@dataclass
class Vocabulary:
    """Dimension dictionaries, country whitelist and word pools for one seed."""

    dims: dict[str, list[tuple[str, str]]]
    countries: list[tuple[str, str]]
    pseudo: list[str]
    twins: set[str]  # lower-case keys that have a case twin in their dictionary

    @classmethod
    def build(cls, seed: int) -> "Vocabulary":
        rng = random.Random(_md5_int("vocab", seed))
        pseudo = sorted({_pseudo_word(rng, rng.choice((2, 2, 3))) for _ in range(2500)})
        seen_ids: set[str] = set()

        def ext_id() -> str:
            while True:
                v = f"0x{rng.getrandbits(60):015x}"
                if v not in seen_ids:
                    seen_ids.add(v)
                    return v

        # Zipf-like weights: a few words are very common (as "Organic" or
        # "Powder" are in real catalogues), most are rare
        def zipf(pool: list[str]) -> list[float]:
            return [1.0 / (i + 3) ** 0.8 for i in range(len(pool))]

        bases = BASES[:]
        rng.shuffle(bases)
        forms = FORMS[:]
        rng.shuffle(forms)
        wb, wf = zipf(bases), zipf(forms)

        def product_title() -> str:
            words = []
            if rng.random() < 0.45:
                words.append(rng.choice(pseudo))
            if rng.random() < 0.35:
                words.append(rng.choice(MODIFIERS))
            words.extend(rng.choices(bases, wb, k=rng.choice((1, 1, 2))))
            words.append(rng.choices(forms, wf)[0])
            return " ".join(words)

        def ingredient_title() -> str:
            r = rng.random()
            if r < 0.25:
                return f"{rng.choice(pseudo)} {rng.choice(pseudo).lower()}".title()
            words = []
            if rng.random() < 0.3:
                words.append(rng.choice(MODIFIERS))
            words.append(rng.choices(bases, wb)[0])
            if rng.random() < 0.6:
                words.append(rng.choices(forms, wf)[0])
            return " ".join(words)

        def cert_title() -> str:
            org = "".join(rng.choice("ABCDEFGHIKLMNOPRSTUV") for _ in range(rng.choice((2, 3, 4))))
            words = [org, rng.choice(CERT_TYPES), rng.choice(CERT_SUFFIX)]
            if rng.random() < 0.3:
                words.insert(1, rng.choice(pseudo))
            return " ".join(words)

        def allergen_title() -> str:
            base = rng.choice(bases)
            return base if rng.random() < 0.5 else f"{base} {rng.choice(ALLERGEN_EXTRA)}"

        makers = {
            "product": product_title,
            "ingredient": ingredient_title,
            "certification": cert_title,
            "allergen": allergen_title,
        }
        dims: dict[str, list[tuple[str, str]]] = {}
        twins: set[str] = set()
        for kind, size in DICT_SIZES.items():
            titles: list[str] = []
            keys: set[str] = set()
            while len(titles) < size:
                t = makers[kind]()
                if t.lower() not in keys:
                    keys.add(t.lower())
                    titles.append(t)
            rows = [(t, ext_id()) for t in titles]
            # ~1% exact-lowercase twins: the same title in another case
            # under another id, as duplicated catalogue imports produce
            for t, _ in rows[: max(1, size // 100)]:
                rows.append((t.upper(), ext_id()))
                twins.add(t.lower())
            rng.shuffle(rows)
            dims[kind] = rows

        names: set[str] = set()
        countries = []
        while len(countries) < N_COUNTRIES:
            n = _pseudo_word(rng, rng.choice((2, 3)))
            if rng.random() < 0.15:
                n = f"{rng.choice(['North', 'South', 'New', 'East', 'West', 'Upper'])} {n}"
            if n.lower() not in names:
                names.add(n.lower())
                countries.append((n, f"C{len(countries):03d}"))
        return cls(dims=dims, countries=countries, pseudo=pseudo, twins=twins)

    def stats(self) -> dict[str, int]:
        """Distinct tokens, distinct trigrams and the highest number of
        dictionary titles sharing one trigram, over all four dictionaries."""
        toks: set[str] = set()
        gram_df: dict[str, int] = {}
        for rows in self.dims.values():
            for title, _ in rows:
                low = title.lower().strip()
                toks.update(w for w in "".join(c if c.isalnum() else " " for c in low).split())
                for g in {low[i : i + 3] for i in range(max(1, len(low) - 2))}:
                    gram_df[g] = gram_df.get(g, 0) + 1
        return {
            "distinct_tokens": len(toks),
            "distinct_trigrams": len(gram_df),
            "max_trigram_titles": max(gram_df.values()),
        }


@dataclass
class Upload:
    """One generated member file plus the truth the checks compare against."""

    name: str                 # file name; the processed-files ledger key
    headers: list[str]
    rows: list[list[str | None]]
    n_rows: int
    invalid: dict[str, str]   # phone (row id) -> expected error
    skipped: set[str]         # phone of valid rows whose country is off the whitelist
    pushed_names: set[str]    # sanitized businessName of every valid whitelisted row
    exact: dict[tuple[str, str], str]  # (kind, lower title) -> ext_id, exact variants planted

    def write(self, path: str) -> None:
        buf = io.StringIO(newline="")
        w = csv.writer(buf, lineterminator="\n", quoting=csv.QUOTE_MINIMAL)
        w.writerow(self.headers)
        w.writerows([["" if v is None else v for v in r] for r in self.rows])
        with open(path, "w", encoding="utf-8", newline="") as f:
            f.write(buf.getvalue())


@dataclass
class Prior:
    sink: list[tuple[str, str, str]]          # businessName, contactEmail, source_file
    ledger: list[str]
    created_dims: list[tuple[str, str, str]]  # kind, title, ext_id

    @property
    def names(self) -> set[str]:
        return {r[0] for r in self.sink}


@dataclass
class UploadFactory:
    """Member files for one seed. New business names are unique
    across the factory's life, so the sink's insert and update paths are
    chosen by the factory (returning members), never by chance collisions."""

    vocab: Vocabulary
    seed: int
    _count: int = 0
    _used_names: set[str] = field(default_factory=set)

    def __post_init__(self) -> None:
        self.rng = random.Random(_md5_int("uploads", self.seed))
        # per-kind exact-variant pools, without case twins (their id is
        # the dictionary's tie-break, not a property of the title)
        self._pool = {
            k: [(t, i) for t, i in rows if t.lower() not in self.vocab.twins]
            for k, rows in self.vocab.dims.items()
        }
        self._country_keys = {c.lower() for c, _ in self.vocab.countries}

    # ------------------------------------------------------------ values
    def _company(self) -> str:
        while True:
            n = f"{self.rng.choice(self.vocab.pseudo)} {self.rng.choice(self.vocab.pseudo)} " \
                f"{self.rng.choice(COMPANY_SUFFIX)}"
            if n not in self._used_names:
                self._used_names.add(n)
                return n

    def _typo(self, word: str) -> str:
        i = self.rng.randrange(len(word))
        op = self.rng.random()
        if op < 0.4 and len(word) > 3:
            return word[:i] + word[i + 1 :]
        if op < 0.7:
            return word[:i] + self.rng.choice("aeiourstln") + word[i:]
        j = min(i + 1, len(word) - 1)
        return word[:i] + word[j] + word[i] + word[j + 1 :] if i != j else word + "e"

    def _item(self, kind: str, exact: dict[tuple[str, str], str]) -> str:
        rng = self.rng
        title, ext = rng.choice(self._pool[kind])
        r = rng.random()
        if r < 0.55:  # exact variant: same title, other case
            exact[(kind, title.lower())] = ext
            return rng.choice((title, title.lower(), title.upper(), title))
        words = title.split()
        if r < 0.72:  # near miss: 1-2 edits inside the longest word
            k = max(range(len(words)), key=lambda i: len(words[i]))
            words[k] = self._typo(words[k])
            if rng.random() < 0.3:
                words[k] = self._typo(words[k])
            return " ".join(words)
        if r < 0.90:  # partial overlap: drop, swap or add a word
            op = rng.random()
            if op < 0.35 and len(words) > 1:
                words.pop(rng.randrange(len(words)))
            elif op < 0.7:
                words[rng.randrange(len(words))] = rng.choice(BASES + FORMS)
            else:
                words.insert(rng.randrange(len(words) + 1), rng.choice(MODIFIERS + FORMS))
            return " ".join(words)
        # unrelated: a name the dictionaries do not hold
        return " ".join(rng.choice(self.vocab.pseudo) for _ in range(rng.choice((1, 2, 2, 3))))

    def _cell(self, kind: str, lo: int, hi: int, exact: dict) -> str | None:
        rng = self.rng
        n = rng.randint(lo, hi)
        if n == 0:
            return rng.choice([None, "", "N/A"])
        items = [self._item(kind, exact) for _ in range(n)]
        if rng.random() < 0.10:  # within-row case duplicate
            items.append(rng.choice(items).swapcase())
        return rng.choice(("; ", ", ", ";", ",")).join(items)

    # ------------------------------------------------------------ rows
    def _row(self, name: str, truth: Upload, row_no: int) -> dict:
        rng = self.rng
        phone = f"+1-{self.seed % 1000:03d}-{self._count:04d}-{row_no:05d}"
        country, _ = rng.choice(self.vocab.countries)
        country_cell = rng.choice((country, country.lower(), country.upper(), f" {country} "))
        off_list = rng.random() < 0.05
        if off_list:
            country_cell = rng.choice((self._typo(country), self._typo(country) + "ia", "Atlantis"))
            if country_cell.strip().lower() in self._country_keys:
                country_cell = "Atlantis"
        email = f"info@{name.split()[0].lower()}.example"
        r = rng.random()
        if r < 0.10:
            email = rng.choice(SENTINELS)
        elif r < 0.18:
            email = rng.choice((email.replace("@", " at "), email.split("@")[0], "info@domain"))
        bio = f"{name} makes {rng.choice(BASES).lower()} {rng.choice(FORMS).lower()} since {1950 + rng.randrange(70)}."
        if rng.random() < 0.03:
            bio = f"<p><b>{bio}</b> &nbsp;<br/></p>"
        shown_name = f"<b>{name}</b>" if rng.random() < 0.02 else name
        defect = rng.random()
        if defect < 0.01:
            shown_name = rng.choice(SENTINELS[1:])
        elif defect < 0.02:
            country_cell = rng.choice(SENTINELS)
        elif defect < 0.03:
            shown_name = name[0]
        exact: dict[tuple[str, str], str] = {}
        row = {
            "businessName": shown_name,
            "contactEmail": email,
            "phone": phone,
            "streetAddress1": rng.choice(("", f"{rng.randrange(1, 999)} {rng.choice(STREETS)}")),
            "city1": rng.choice(self.vocab.pseudo),
            "stateOrProvince1": rng.choice((None, rng.choice(self.vocab.pseudo))),
            "zipCode1": f"{rng.randrange(10000, 99999)}",
            "country1": country_cell,
            "companyBio": bio,
            "website": rng.choice(("N/A", f"https://{name.split()[0].lower()}.example")),
            "products": self._cell("product", 0, 8, exact),
            "ingredients": self._cell("ingredient", 0, 8, exact),
        }
        for c in SERVICE_COLUMNS:
            row[c] = rng.choice(("Yes", "Full service", "Available on request")) if rng.random() < 0.4 else None
        # ground truth, in the precedence the reference validates in
        if defect < 0.01:
            truth.invalid[phone] = "missing businessName"
        elif defect < 0.02:
            truth.invalid[phone] = "missing country"
        elif defect < 0.03:
            truth.invalid[phone] = "invalid businessName"
        elif 0.10 <= r < 0.18:
            truth.invalid[phone] = "invalid email"
        else:
            truth.exact.update(exact)
            if off_list:
                truth.skipped.add(phone)
            else:
                truth.pushed_names.add(name)
        return row

    def new_upload(self, n_rows: int, returning: set[str] = frozenset(),
                   returning_share: float = 0.0) -> Upload:
        """``returning_share`` of the rows re-submit members named in
        ``returning`` (already in the sink) with fresh details: the
        corrected re-uploads that take the MERGE update path."""
        rng = self.rng
        self._count += 1
        cols = list(HEADER_VARIANTS)
        head_rng = random.Random(_md5_int("headers", self.seed, self._count))
        headers = [head_rng.choice(HEADER_VARIANTS[c]) for c in cols]
        up = Upload(name=f"members_{self.seed}_{self._count:04d}.csv", headers=headers, rows=[],
                    n_rows=n_rows, invalid={}, skipped=set(), pushed_names=set(), exact={})
        back = sorted(returning)
        rng.shuffle(back)
        for i in range(n_rows):
            name = back.pop() if back and rng.random() < returning_share else self._company()
            d = self._row(name, up, i)
            up.rows.append([d[c] for c in cols])
        return up

    def prior_session(self, n_uploads: int, n_rows: int) -> "Prior":
        """The state earlier uploads of a session leave behind, written
        directly: sink members, ledger entries, and dictionary rows the
        earlier pushes created (misspelled items approved as new)."""
        ups = [self.new_upload(n_rows) for _ in range(n_uploads)]
        sink = []
        for u in ups:
            for name in sorted(u.pushed_names):
                sink.append((name, f"info@{name.split()[0].lower()}.example", u.name))
        created = []
        for kind, pool in self._pool.items():
            keys = {t.lower() for t, _ in self.vocab.dims[kind]}
            for t, _ in pool[: len(pool) // 30]:
                typo = self._typo(t)
                if typo.lower() not in keys:
                    keys.add(typo.lower())
                    created.append((kind, typo, "gen:" + hashlib.md5(typo.lower().encode()).hexdigest()))
        return Prior(sink=sink, ledger=[u.name for u in ups], created_dims=created)


def review_decisions(items: list[str], seed: int) -> list[tuple[str, str, str | None]]:
    """Simulated reviewer over the review queue (FIXTURES.md A5): a
    deterministic md5-of-item choice among approve_match, create_new and
    ignore, with some items left pending."""
    out = []
    for item in sorted(set(items)):
        h = _md5_int("decide", seed, item) % 10
        if h < 4:
            out.append((item, "approve_match", None))
        elif h < 6:
            out.append((item, "create_new", None))
        elif h < 8:
            out.append((item, "ignore", None))
    return out
