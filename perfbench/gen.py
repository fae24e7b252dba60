"""Seeded inputs for the benchmark workloads, and the answers expected of them.

Everything the program receives is written here as plain files: messy retail
CSVs for the ingest workloads and a DML script for the lake workload. The
expected answers are computed in this module from the generator's own tags,
never from the program's output, so a check compares the program with an
independent model.

Messy CSV traits (FIXTURES.md section 2): a shuffled header with an extra
`discount_code` column, the `storeid` synonym and no `customer_id` column;
`;`-joined rows; a re-embedded header; rejectable timestamp shapes; `$`
prices; `N/A` and negative quantities; revenue mismatches; exact duplicate
rows. Every data line is tagged with the routing it should get.
"""
import datetime as dt
import hashlib
import random

GOOD = "GOOD"
MISSING = "MISSING_REQUIRED_COLUMN"
BAD_TS = "INVALID_TIMESTAMP_FORMAT"
BAD_DQ = "BUSINESS_LOGIC_FAIL"
REJECT_REASONS = (MISSING, BAD_TS, BAD_DQ)

BASE_DATE = dt.date(2025, 3, 1)
CATEGORIES = ["Grocery", "Electronics", "Apparel", "Home", "Toys", "Beauty"]
PAYMENTS = ["Card", "Cash", "Transfer", "Mobile"]

# Header variants of the reference sample corpus (FIXTURES.md section 2).
HEADERS = [
    ["transaction_id", "store_id", "timestamp", "item_id", "item_category",
     "quantity", "unit_price", "revenue", "payment_method", "customer_id"],
    ["item_id", "revenue", "store_id", "transaction_id", "discount_code",
     "customer_id", "item_category", "quantity", "payment_method",
     "timestamp", "unit_price"],
    ["transaction_id", "store_id", "timestamp", "item_id", "item_category",
     "quantity", "unit_price", "revenue", "payment_method"],
    ["quantity", "payment_method", "revenue", "item_category", "unit_price",
     "customer_id", "item_id", "storeid", "timestamp", "transaction_id"],
    ["transaction_id", "storeid", "timestamp", "item_id", "item_category",
     "quantity", "unit_price", "revenue", "payment_method", "customer_id"],
]

# Shares of the row traits in every messy file.
TRAIT_SHARES = {
    "semicolon_joined": 0.02,   # -> MISSING_REQUIRED_COLUMN
    "bad_timestamp": 0.06,      # -> INVALID_TIMESTAMP_FORMAT
    "na_quantity": 0.01,        # -> BUSINESS_LOGIC_FAIL
    "revenue_mismatch": 0.015,  # -> BUSINESS_LOGIC_FAIL
    "negative_quantity": 0.01,  # a return: revenue matches, so GOOD
    "dollar_price": 0.30,       # cleaned, still GOOD
    "exact_duplicate": 0.02,    # a GOOD line repeated verbatim
}


def cents_str(c):
    sign = "-" if c < 0 else ""
    c = abs(c)
    return f"{sign}{c // 100}.{c % 100:02d}"


def messy_header(rng):
    """Every trait of the corpus headers at once: shuffled order, the extra
    `discount_code` column, the `storeid` synonym, no `customer_id`."""
    cols = [c for c in HEADERS[1] if c != "customer_id"]
    cols = ["storeid" if c == "store_id" else c for c in cols]
    rng.shuffle(cols)
    return cols


def good_ts(rng, day, secs):
    t = dt.datetime.combine(day, dt.time()) + dt.timedelta(seconds=secs)
    shape = rng.randrange(5)
    if shape == 0:
        return f"{t:%Y-%m-%d} {t.hour}:{t:%M:%S}"
    if shape == 1:
        return f"{t:%Y-%m-%d} {t.hour}:{t:%M}"
    if shape == 2:
        return f"{t:%Y/%m/%d} {t.hour}:{t:%M:%S}"
    if shape == 3:
        return f"{t:%m/%d/%Y} {t.hour}:{t:%M}"
    return f"{t:%Y%m%d %H%M%S}"


def bad_ts(rng, day, secs):
    t = dt.datetime.combine(day, dt.time()) + dt.timedelta(seconds=secs)
    shape = rng.randrange(4)
    if shape == 0:
        return f"{t:%d-%m-%y} {t.hour}:{t:%M}"        # dd-MM-yy H:mm
    if shape == 1:
        return f"{t:%Y-%m-%dT%H:%M:%S}"               # ISO-T
    if shape == 2:
        return f"{t:%m/%d/%Y %I:%M%p}"                # hh:mmAM/PM
    return ""                                         # empty


class Sale:
    """One business record with the values the program should keep."""
    __slots__ = ("tid", "store", "item", "cat", "qty", "price_c", "rev_c",
                 "pay", "cust", "day", "secs")

    def __init__(self, rng, tid, day, items):
        self.tid = tid
        self.store = f"S{rng.randrange(1, 41):03d}"
        # skewed item popularity so the top-10 products are well separated
        self.item = f"P{int(items * rng.random() ** 2.5) + 1:04d}"
        self.cat = rng.choice(CATEGORIES)
        self.qty = rng.randrange(1, 13)
        self.price_c = rng.randrange(50, 20000)
        self.rev_c = self.qty * self.price_c
        self.pay = rng.choice(PAYMENTS)
        self.cust = "".join(rng.choice("ABCDEFGHJKLMNPQRSTUVWXYZ0123456789")
                            for _ in range(8))
        self.day = day
        self.secs = rng.randrange(86400)

    def changed(self, rng):
        """A re-delivery of this id with new values on the same date."""
        s = Sale.__new__(Sale)
        for k in Sale.__slots__:
            setattr(s, k, getattr(self, k))
        s.qty = rng.randrange(1, 13)
        s.price_c = rng.randrange(50, 20000)
        s.rev_c = s.qty * s.price_c
        s.store = f"S{rng.randrange(1, 41):03d}"
        s.secs = rng.randrange(86400)
        return s


def render(rng, sale, header, trait):
    """(line, tag) for one sale under one row trait."""
    qty = str(sale.qty)
    price = cents_str(sale.price_c)
    rev = cents_str(sale.rev_c)
    ts = good_ts(rng, sale.day, sale.secs)
    tag = GOOD
    if trait == "bad_timestamp":
        ts, tag = bad_ts(rng, sale.day, sale.secs), BAD_TS
    elif trait == "na_quantity":
        qty, tag = "N/A", BAD_DQ
    elif trait == "revenue_mismatch":
        rev, tag = cents_str(sale.rev_c + rng.choice([-1, 1]) * rng.randrange(100, 5000)), BAD_DQ
    if trait == "dollar_price" or rng.random() < 0.1:
        price = "$" + price
    vals = {
        "transaction_id": sale.tid, "store_id": sale.store,
        "storeid": sale.store, "timestamp": ts, "item_id": sale.item,
        "item_category": sale.cat, "quantity": qty, "unit_price": price,
        "revenue": rev, "payment_method": sale.pay,
        "customer_id": sale.cust, "discount_code": rng.choice(["", "SPRING5", "VIP10"]),
    }
    delim = ","
    if trait == "semicolon_joined":
        delim, tag = ";", MISSING
    return delim.join(vals[c] for c in header), tag


def pick_trait(rng):
    r = rng.random()
    for name, share in TRAIT_SHARES.items():
        if r < share:
            return name
        r -= share
    return None


def write_messy_file(path, rng, sales, header):
    """Write one messy CSV of `sales` and return its expected routing.

    Returns (counts, kept): counts per routing tag (re-embedded headers and
    duplicate copies excluded, as the program counts them) and the sales
    whose line should land in silver, so a gold model can be built."""
    lines, counts, kept, dup_pool = [], {t: 0 for t in (GOOD,) + REJECT_REASONS}, [], []
    for sale in sales:
        trait = pick_trait(rng)
        if trait == "negative_quantity":
            sale.qty = -rng.randrange(1, 6)
            sale.rev_c = sale.qty * sale.price_c
        if trait == "exact_duplicate":
            trait = None
            dup = True
        else:
            dup = False
        line, tag = render(rng, sale, header, trait)
        lines.append(line)
        counts[tag] += 1
        if tag == GOOD:
            kept.append(sale)
            if dup:
                dup_pool.append(line)
    # duplicate copies and the re-embedded header go after line 20, so the
    # delimiter sniff of the first 20 lines sees ordinary rows
    for extra in dup_pool + [",".join(header)]:
        lines.insert(rng.randrange(min(20, len(lines)), len(lines) + 1), extra)
    with open(path, "w", newline="\n") as f:
        f.write(",".join(header) + "\n")
        f.write("\n".join(lines) + "\n")
    return counts, kept


class GoldModel:
    """Latest-wins gold: per (date, transaction_id) the last GOOD delivery."""

    def __init__(self):
        self.rows = {}

    def apply(self, kept):
        for s in kept:
            self.rows[(s.day.isoformat(), s.tid)] = (s.item, s.rev_c)

    def answers(self, range_lo, range_hi):
        per_date, rows_per_date, per_item = {}, {}, {}
        for (d, _), (item, c) in self.rows.items():
            per_date[d] = per_date.get(d, 0) + c
            rows_per_date[d] = rows_per_date.get(d, 0) + 1
            per_item[item] = per_item.get(item, 0) + c
        top = sorted(per_item.values(), reverse=True)[:10]
        rng_rows = [(d, c) for (d, _), (_, c) in self.rows.items() if range_lo <= d <= range_hi]
        return {
            "rows_per_date": rows_per_date,
            "daily_revenue_cents": per_date,
            "item_revenue_cents": per_item,
            "top10_cents": top,
            "range": {"rows": len(rng_rows), "cents": sum(c for _, c in rng_rows)},
        }


def _day(i):
    return BASE_DATE + dt.timedelta(days=i)


def ingest_bulk(dirpath, seed, files, rows, dates_per_file):
    """A few large messy files, each spanning a few dates (consecutive files
    share one date). Returns the plan and the expected answers."""
    rng = random.Random(seed)
    model, per_file, names = GoldModel(), [], []
    n = 0
    for f in range(files):
        first = f * (dates_per_file - 1)
        sales = []
        for _ in range(rows):
            n += 1
            sales.append(Sale(rng, f"B{seed % 1000:03d}-{n:07d}",
                              _day(first + rng.randrange(dates_per_file)), 400))
        name = f"sales_bulk_{f:02d}.csv"
        counts, kept = write_messy_file(f"{dirpath}/{name}", rng, sales, messy_header(rng))
        model.apply(kept)
        per_file.append({"counts": counts, "dates": sorted({s.day.isoformat() for s in kept})})
        names.append(name)
    last = (files - 1) * (dates_per_file - 1) + dates_per_file - 1
    lo, hi = _day(1).isoformat(), _day(max(1, last - 1)).isoformat()
    return {"files": names, "range": [lo, hi]}, {"files": per_file, "gold": model.answers(lo, hi)}


def gold_incremental(dirpath, seed, base_files, base_rows, cycles, rows, dates,
                     redeliver_share):
    """A seeded base, then daily drops spanning `dates` dates each, with
    re-deliveries of earlier ids carrying changed values in later files."""
    rng = random.Random(seed)
    model, delivered, n = GoldModel(), [], 0
    span = 10

    def drop(name, k, header):
        nonlocal n
        sales, used = [], set()
        window = rng.sample(range(span), dates)
        # re-deliveries keep their date, so only ids of this drop's dates
        # are re-delivered: every drop touches exactly `dates` dates
        days = {_day(i) for i in window}
        earlier = [s for s in delivered if s.day in days]
        for _ in range(k):
            if earlier and rng.random() < redeliver_share:
                old = rng.choice(earlier)
                if old.tid not in used:
                    used.add(old.tid)
                    sales.append(old.changed(rng))
                    continue
            n += 1
            tid = f"G{seed % 1000:03d}-{n:07d}"
            used.add(tid)
            sales.append(Sale(rng, tid, _day(window[len(sales) % dates]), 300))
        counts, kept = write_messy_file(f"{dirpath}/{name}", rng, sales, header)
        model.apply(kept)
        delivered.extend(kept)
        return {"counts": counts, "dates": sorted({s.day.isoformat() for s in kept})}

    lo, hi = _day(3).isoformat(), _day(9).isoformat()
    base = [drop(f"base_{i:02d}.csv", base_rows, messy_header(rng))
            for i in range(base_files)]
    steps = []
    for c in range(cycles):
        f = drop(f"drop_{c:03d}.csv", rows, HEADERS[c % len(HEADERS)])
        steps.append({"file": f, "gold": model.answers(lo, hi)})
    plan = {"base": [f"base_{i:02d}.csv" for i in range(base_files)],
            "cycles": [f"drop_{c:03d}.csv" for c in range(cycles)],
            "range": [lo, hi]}
    return plan, {"base": base, "cycles": steps}


def _lake_row(r):
    tid, day, store, item, qty, cents = r
    return f"{tid}|{day}|{store}|{item}|{qty}|{cents_str(cents)}"


def live_hash(rows):
    """Order-insensitive digest of a set of live rows."""
    h = hashlib.sha256()
    for line in sorted(rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def lake_dml(dirpath, seed, base_rows, steps, append_rows, merge_rows, dates,
             optimize_every):
    """A seeded table and a script of DML steps: append new facts, merge
    (upsert by transaction_id; about half the keys exist), delete one date.
    The live set is tracked here, so every read has an expected answer."""
    rng = random.Random(seed)
    live, n = {}, 0

    def new_row():
        nonlocal n
        n += 1
        qty, price = rng.randrange(1, 13), rng.randrange(50, 20000)
        return (f"L{seed % 1000:03d}-{n:07d}", _day(rng.randrange(dates)).isoformat(),
                f"S{rng.randrange(1, 41):03d}", f"P{rng.randrange(1, 301):04d}",
                qty, qty * price)

    def write(name, rows):
        with open(f"{dirpath}/{name}", "w") as f:
            f.write("transaction_id,sale_date,store_id,item_id,quantity,revenue\n")
            for r in rows:
                f.write(f"{r[0]},{r[1]},{r[2]},{r[3]},{r[4]},{cents_str(r[5])}\n")

    def state():
        return {"rows": len(live), "cents": sum(r[5] for r in live.values())}

    base = [new_row() for _ in range(base_rows)]
    for r in base:
        live[r[0]] = r
    write("base.csv", base)
    plan_steps, expect_steps = [], []
    for k in range(steps):
        app = [new_row() for _ in range(append_rows)]
        write(f"append_{k:03d}.csv", app)
        for r in app:
            live[r[0]] = r
        after_append = state()
        keys = rng.sample(sorted(live), min(len(live), merge_rows // 2))
        mer = []
        for tid in keys:
            old = live[tid]
            qty, price = rng.randrange(1, 13), rng.randrange(50, 20000)
            mer.append((tid, old[1], old[2], old[3], qty, qty * price))
        mer += [new_row() for _ in range(merge_rows - len(mer))]
        write(f"merge_{k:03d}.csv", mer)
        for r in mer:
            live[r[0]] = r
        after_merge = state()
        day = _day(k % dates).isoformat()
        for tid in [t for t, r in live.items() if r[1] == day]:
            del live[tid]
        after_delete = state()
        plan_steps.append({"append": f"append_{k:03d}.csv", "merge": f"merge_{k:03d}.csv",
                           "delete_date": day,
                           "optimize": (k + 1) % optimize_every == 0})
        expect_steps.append([after_append, after_merge, after_delete])
    final = live_hash(_lake_row(r) for r in live.values())
    return ({"base": "base.csv", "steps": plan_steps},
            {"steps": expect_steps, "final_hash": final, "final_rows": len(live)})
