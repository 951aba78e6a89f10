"""Seeded inputs for the `listings` workload: one raw scrape CSV with the 24
RawListing columns (FIXTURES.md section 1) and the dirt profile of the
reference scrape, the counts the ETL must report for it, and the page-view
schedule of the dashboard phase. The same seed gives byte-identical files."""
import csv
import io
import random

COLUMNS = [
    "search_keyword", "product_name", "product_url", "supplier_name",
    "supplier_url", "price", "phone", "city", "state", "locality",
    "location_ui", "rating", "image", "catid", "mcatid", "itemid",
    "dispid", "brand", "capacity", "power", "ac_type", "function_type",
    "isq_attributes", "scraped_at"]

# 21 keywords with uneven frequency; some raw spellings are ones the ETL's
# keyword normaliser folds into the clean value on the left
KEYWORDS = [
    ("led tv", ["led tv", "LED TV", " Led  Tv "]),
    ("air conditioner", ["air conditioner", "Air Conditioner"]),
    ("washing machine", ["washing machine"]),
    ("refrigerator", ["refrigerator", "Refrigerator"]),
    ("semi-automatic washing machine", ["semi automatic washing machine"]),
    ("microwave oven", ["microwave oven"]),
    ("water purifier", ["water purifier"]),
    ("ceiling fan", ["ceiling fan"]),
    ("wet and dry vacuum cleaner", ["wet & dry vacuum cleaner"]),
    ("bakery oven", ["bakery oven,", "bakery oven"]),
    ("built in dishwasher", ["built-in dishwasher"]),
    ("air cooler", ["air cooler"]),
    ("water heater", ["water heater"]),
    ("inverter", ["inverter"]),
    ("induction cooktop", ["induction cooktop"]),
    ("mixer grinder", ["mixer grinder"]),
    ("kitchen chimney", ["kitchen chimney"]),
    ("deep freezer", ["deep freezer"]),
    ("room heater", ["room heater"]),
    ("steam iron", ["steam iron"]),
    ("electric kettle", ["electric kettle"]),
]

# clean state -> (raw spellings, cities)
STATES = [
    ("Maharashtra", ["Maharashtra", "maharashtra"], ["Mumbai", "Pune", "Nagpur", "Thane"]),
    ("Delhi", ["Delhi", "DELHI"], ["New Delhi", "Delhi"]),
    ("Gujarat", ["Gujarat"], ["Ahmedabad", "Surat", "Rajkot", "Vadodara"]),
    ("Tamil Nadu", ["Tamil Nadu", "Tamilnadu", "TAMILNADU", "tamil nadu"],
     ["Chennai", "Coimbatore", "Madurai"]),
    ("Karnataka", ["Karnataka"], ["Bengaluru", "Mysuru"]),
    ("Uttar Pradesh", ["Uttar Pradesh"], ["Noida", "Ghaziabad", "Lucknow", "Kanpur"]),
    ("West Bengal", ["West Bengal"], ["Kolkata", "Howrah"]),
    ("Telangana", ["Telangana"], ["Hyderabad"]),
    ("Rajasthan", ["Rajasthan"], ["Jaipur", "Jodhpur"]),
    ("Punjab", ["Punjab"], ["Ludhiana", "Amritsar"]),
    ("Haryana", ["Haryana"], ["Gurugram", "Faridabad"]),
    ("Kerala", ["Kerala"], ["Kochi"]),
]

UNITS = ["Piece", "Unit", "Set", "Box", "Kg"]
BRANDS = ["Voltas", "Daikin", "LG", "Samsung", "Bajaj", "Havells", "Usha", "Godrej", "Kent", ""]

ROWS = 4000
# injected dirt with known counts
DIRT = {
    "duplicate": 120,
    "missing_product_name": 40,
    "missing_supplier_name": 35,
    "invalid_product_url": 30,
    "invalid_supplier_url": 25,
    "non_positive_price": 12,
    "rating_out_of_range": 15,
}


def _zipf_weights(n, s=0.9):
    return [1.0 / (r + 1) ** s for r in range(n)]


def raw_listings(seed):
    """Returns (csv bytes, truth) for one raw scrape of ROWS rows.

    `truth` holds the row counts and per-issue counts the ETL must report,
    and the clean states and keywords by descending frequency."""
    rng = random.Random(seed)
    idx = list(range(ROWS))
    rng.shuffle(idx)
    kind = ["normal"] * ROWS
    pos = 0
    for k, cnt in DIRT.items():
        for i in idx[pos:pos + cnt]:
            kind[i] = k
        pos += cnt
    # a duplicate repeats the (product_url, dispid) key of an earlier normal row
    normal_before = []
    dup_of = {}
    for i in range(ROWS):
        if kind[i] == "duplicate":
            dup_of[i] = normal_before[rng.randrange(len(normal_before))] if normal_before else None
            if dup_of[i] is None:
                kind[i] = "normal"
        if kind[i] == "normal":
            normal_before.append(i)

    kw_w = _zipf_weights(len(KEYWORDS))
    st_w = _zipf_weights(len(STATES), 1.1)
    out = io.StringIO()
    w = csv.writer(out, lineterminator="\n")
    w.writerow(COLUMNS)
    keys = {}
    kw_count, st_count = {}, {}
    for i in range(ROWS):
        k = kind[i]
        kw_clean, kw_raw = rng.choices(KEYWORDS, kw_w)[0]
        st_clean, st_raw, cities = rng.choices(STATES, st_w)[0]
        located = rng.random() >= 0.12
        dispid = str(2_000_000_000_000 + rng.randrange(860_000_000_000))
        product_url = f"https://www.indiamart.com/proddetail/item-{seed}-{i}.html"
        if k == "invalid_product_url":
            product_url = f"www.indiamart.com/proddetail/item-{seed}-{i}.html"
        if k == "duplicate":
            product_url, dispid = keys[dup_of[i]]
        keys[i] = (product_url, dispid)
        brand = rng.choice(BRANDS)
        name = f"{brand or 'Generic'} {kw_clean.title()} Model {rng.randrange(100, 999)}"
        if rng.random() < 0.2:
            name += f', Screen Size: {rng.choice([32, 43, 55, 65])}"'
        if k == "missing_product_name":
            name = rng.choice(["", "nan", "   "])
        supplier = f"{rng.choice(['shree', 'om', 'sai', 'new', 'royal'])} {rng.choice(['traders', 'enterprises', 'appliances', 'electronics'])} {rng.randrange(400)}"
        if k == "missing_supplier_name":
            supplier = rng.choice(["", "None"])
        supplier_url = f"https://www.indiamart.com/supplier-{rng.randrange(5000)}/"
        if k == "invalid_supplier_url":
            supplier_url = rng.choice(["ftp://indiamart.com/s", "indiamart.com/supplier"])
        elif rng.random() < 0.05:
            supplier_url = ""
        u = rng.random()
        if k == "non_positive_price":
            price = "₹ 0/Piece"
        elif u < 0.27:
            price = ""
        elif u < 0.32:
            price = rng.choice(["Ask Price", "ask price", "Get Quote"])
        else:
            amount = int(rng.lognormvariate(9.8, 1.1)) + 100
            unit = f"/{rng.choice(UNITS)}" if rng.random() < 0.62 else ""
            price = f"₹ {amount:,}{unit}"
        r = rng.random()
        if k == "rating_out_of_range":
            rating = rng.choice(["7.5", "-1", "12", "5.6"])
        elif r < 0.27:
            rating = ""
        else:
            rating = f"{rng.uniform(1.0, 5.0):.1f}"
        city = rng.choice(cities) if located else ""
        state = rng.choice(st_raw) if located else ""
        row = [
            rng.choice(kw_raw), name, product_url, supplier, supplier_url, price,
            f"+91-{rng.randrange(7000000000, 9999999999)}", city, state,
            rng.choice(["", "Industrial Area", "Market Road", "Sector 5"]),
            f"{city}, {state}" if located else "", rating,
            f"https://5.imimg.com/data5/{rng.randrange(10**6)}.jpg",
            str(rng.randrange(1, 500)), str(rng.randrange(1000, 90000)),
            str(rng.randrange(10**9, 10**10)), dispid, brand,
            rng.choice(["", "1.5 Ton", "2 Ton", "10 L", "250 L"]),
            rng.choice(["", "1200 W", "2000 W", "750 W"]),
            rng.choice(["", "Split", "Window"]), rng.choice(["", "Cooling", "Heating"]),
            f"Brand={brand}; Warranty={rng.randrange(1, 4)} Year",
            f"2026-02-{1 + i % 28:02d}T{i % 24:02d}:{i % 60:02d}:{(7 * i) % 60:02d}.{i:06d}+00:00",
        ]
        w.writerow(row)
        if k not in ("duplicate", "missing_product_name", "missing_supplier_name"):
            kw_count[kw_clean] = kw_count.get(kw_clean, 0) + 1
            if located:
                st_count[st_clean] = st_count.get(st_clean, 0) + 1
    issue_kinds = [k for k in DIRT if k != "duplicate"]
    truth = {
        "rows_in": ROWS,
        "rows_clean": ROWS - sum(1 for k in kind if k in (
            "duplicate", "missing_product_name", "missing_supplier_name")),
        "issues": {k: sum(1 for x in kind if x == k) for k in issue_kinds},
        "states": sorted(st_count, key=lambda s: (-st_count[s], s)),
        "keywords": sorted(kw_count, key=lambda s: (-kw_count[s], s)),
    }
    return out.getvalue().encode("utf-8"), truth


def filter_mix(states, keywords):
    """The dashboard's skewed filter mix, 12 entries: 5 with no filter,
    4 by state (the most frequent state twice, the second and third once)
    and 3 by keyword (the most frequent keyword twice, the second once)."""
    return ([("", "")] * 5 + [(states[0], "")] * 2 + [(states[1], ""), (states[2], "")]
            + [("", keywords[0])] * 2 + [("", keywords[1])])


def page_views(seed, states, keywords, phases):
    """The dashboard schedule: for each (name, pages per second, seconds) in
    `phases`, page views due at fixed intervals, back to back. The schedule
    draws its filters from `filter_mix` without replacement, in a seeded
    order: a 12-view schedule requests exactly the mix, and the seed decides
    which filter lands in which phase and slot.

    Returns a list of {"due_s", "phase", "state", "keyword"}."""
    rng = random.Random(seed ^ 0x5EED)
    counts = [int(rate * secs) for _, rate, secs in phases]
    picks = iter(rng.sample(filter_mix(states, keywords), sum(counts)))
    out, t0 = [], 0.0
    for (name, rate, secs), n in zip(phases, counts):
        for j in range(n):
            state, keyword = next(picks)
            out.append({"due_s": t0 + j / rate, "phase": name, "state": state, "keyword": keyword})
        t0 += secs
    return out
