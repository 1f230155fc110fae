"""Seeded input generator for the ETL benchmark.

Writes, for one workload and seed, everything the pipeline reads:

* ``cms.jsonl``       -- CMS provider rows (the registry build's right side),
                         keyed by hospital name only;
* ``scraped.csv``     -- scraped hospital rows (the left side) with their
                         derived campus_id, planted as exact hits, near
                         misses within the fuzzy cutoff (one substitution,
                         insertion or deletion) or keys below the cutoff
                         against every CMS key (no match);
* ``data/raw data/<system>/<file>`` -- one MRF per campus (tall CSV, wide
                         CSV or JSON), where ``EtlPipeline.run`` looks for it;
* ``manifest.json``   -- the campus list and every count planted above.

Every planted count follows from the row archetypes below and the cleaning
rules' documented semantics, never from running the engine:

* a ``clean`` price point has a price, min, max and estimated amount;
* a ``placeholder`` price point carries the 999999999 sentinel price and an
  estimated amount: the cleaner nulls the price, so no rule fires;
* a ``v6`` price point has a price but no max price (rule 6 only);
* a ``v7`` price point has neither price nor estimated amount but a
  percentage (rule 7 only).

Descriptions are unique per source record, so the only duplicates are the
planted copies of whole source records. Row counts depend on the workload
only; the seed changes values and positions.

Run standalone: ``python3 etlbench/gen.py <workload> <seed> <out_dir>``.
"""

import csv
import difflib
import json
import math
import os
import random
import re
import sys
from decimal import ROUND_HALF_UP, Decimal

# Each campus is (structure, source records). Record counts are chosen so a
# steady iteration is dominated by data-proportional work; see README.md.
WORKLOADS = {
    "tall_large": {
        "cms": 500, "scraped": 50,
        "campuses": [("tall csv", 110000)],
    },
    "fleet_registry": {
        "cms": 3000, "scraped": 300,
        "campuses": [("json", 500), ("tall csv", 1000), ("wide csv", 400)],
    },
}

# The build's class-data-sharing training run: every code path, tiny inputs.
TRAINING = {
    "cms": 200, "scraped": 20,
    "campuses": [("json", 60), ("tall csv", 200), ("wide csv", 40)],
}

PAYERS = ["Aetna", "Cigna", "Humana", "Kaiser", "Anthem",
          "Ambetter", "Oscar", "Molina", "Wellcare", "Medica"]
PAYER_IDS = {p: f"{p[:3].upper()}{i:02d}" for i, p in enumerate(PAYERS)}
PLANS = ["PPO", "HMO", "EPO"]
WIDE_FIELDS = ["negotiated_dollar", "negotiated_percentage",
               "negotiated_algorithm", "estimated_amount", "methodology",
               "additional_payer_notes"]
WIDE_FILLED = 10  # of the 30 payer x plan column groups, per source row
WORDS = ["knee", "mri", "panel", "blood", "visit", "xray", "infusion",
         "therapy", "consult", "scan", "biopsy", "suture", "cast", "ekg"]
METHODS = ["fee schedule", "case rate", "per diem", "other contractual"]
TALL_HEADER = [
    "description", "code|1", "code|1|type", "code|2", "code|2|type",
    "setting", "drug_unit_of_measurement", "drug_type_of_measurement",
    "modifiers", "standard_charge|gross", "standard_charge|discounted_cash",
    "payer_name", "plan_name", "standard_charge|negotiated_dollar",
    "standard_charge|negotiated_percentage",
    "standard_charge|negotiated_algorithm", "standard_charge|methodology",
    "standard_charge|min", "standard_charge|max", "estimated_amount",
    "additional_generic_notes"]
WIDE_STATIC = [
    "description", "code|1", "code|1|type", "code|2", "code|2|type",
    "setting", "drug_unit_of_measurement", "drug_type_of_measurement",
    "modifiers", "standard_charge|gross", "standard_charge|discounted_cash",
    "standard_charge|min", "standard_charge|max", "additional_generic_notes"]
META_KEYS = ["hospital_name", "last_updated_on", "version",
             "hospital_location", "hospital_address"]

# The row mixes below are assumptions, not measurements: no public
# statistic of real MRFs was at hand. They are chosen so every extractor
# branch and every cleaning rule the checks count fires on a few percent of
# the rows, and the clean path carries most of them.
#
# Second code pair of a source record: no pair, an allowlisted pair in a
# normalizing spelling, a pair whose type the extractor rejects, or a CPT
# pair whose 4-digit code the cleaner drops.
PAIR2_MODES = [("none", 40), ("drg", 25), ("hcpcs", 15), ("xyz", 10),
               ("badfmt", 10)]
# Price-point archetypes, in percent.
KINDS = [("clean", 80), ("placeholder", 4), ("v6", 9), ("v7", 7)]
DUP_PERCENT = 3  # planted copies of whole source records


def spread(rng, n, table):
    """n labels in the table's exact proportions, shuffled."""
    out = []
    for label, pct in table:
        out += [label] * (n * pct // 100)
    out += [table[0][0]] * (n - len(out))
    rng.shuffle(out)
    return out


def money(rng, lo, hi):
    v = rng.uniform(lo, hi)
    return f"${v:,.2f}" if rng.random() < 0.3 else f"{v:.2f}"


def cpt(rng):
    return f"{rng.randrange(10000, 100000)}"


def pairs_for(rng, mode):
    """(code|1, type|1, code|2, type|2) plus (kept, valid, rejected) pairs."""
    first = (cpt(rng), rng.choice(["CPT", "cpt"]))
    second = {
        "none": ("", ""),
        "drg": (f"{rng.randrange(100, 1000)}", "MS-DRG"),
        "hcpcs": (f"{rng.choice('ABCJ')}{rng.randrange(1000, 10000)}", "hcpcs"),
        "xyz": (cpt(rng), "XYZ"),
        "badfmt": (f"{rng.randrange(1000, 10000)}", "CPT"),
    }[mode]
    kept = 1 + (mode in ("drg", "hcpcs", "badfmt"))
    valid = 1 + (mode in ("drg", "hcpcs"))
    return first + second, kept, valid, int(mode == "xyz")


def price_point(rng, kind):
    """(price, percentage, methodology, estimated) for one archetype."""
    if kind == "clean":
        return money(rng, 20, 9000), "", rng.choice(METHODS), money(rng, 10, 8000)
    if kind == "placeholder":
        return "999999999", "", rng.choice(METHODS), money(rng, 10, 8000)
    if kind == "v6":
        return money(rng, 20, 9000), "", rng.choice(METHODS), money(rng, 10, 8000)
    return "", f"{rng.randrange(40, 100)}", "percent of total billed charges", ""


class Tally:
    """Planted outcome counts of one campus."""

    def __init__(self):
        self.source_records = 0
        self.pairs_rejected = 0
        self.extracted = 0
        self.format_dropped = 0
        self.duplicates = 0
        self.clean = 0
        self.v6 = 0
        self.v7 = 0

    def add(self, kind, kept, valid, copy):
        """One canonical row group: `kept` pairs extracted, `valid` survive."""
        self.extracted += kept
        self.format_dropped += kept - valid
        if copy:
            self.duplicates += valid
        elif kind == "v6":
            self.v6 += valid
        elif kind == "v7":
            self.v7 += valid
        else:
            self.clean += valid

    def planted(self):
        viol = self.v6 + self.v7
        examined = self.clean + viol
        score = 0.0 if examined == 0 else max(0.0, 1 - viol / (examined * 10))
        return {
            "source_records": self.source_records,
            "pairs_rejected": self.pairs_rejected,
            "extracted": self.extracted,
            "format_dropped": self.format_dropped,
            "duplicates": self.duplicates,
            "clean": self.clean,
            "violations": viol,
            "score": float(Decimal(repr(score)).quantize(
                Decimal("0.0001"), rounding=ROUND_HALF_UP)),
        }


def with_copies(rng, records):
    """Append planted copies of whole records, shuffled in; flags copies."""
    n_dup = len(records) * DUP_PERCENT // 100
    out = [(r, False) for r in records]
    out += [(r, True) for r in rng.sample(records, n_dup)]
    rng.shuffle(out)
    return out


def meta_rows(name, zip_code):
    return META_KEYS, [name, "2024-07-01", "2.0.0", "Springfield",
                       f"1 Main St, Springfield, ST {zip_code}"]


def write_tall(rng, path, n, name, zip_code, tally):
    modes = spread(rng, n, PAIR2_MODES)
    kinds = spread(rng, n, KINDS)
    records = []
    for i in range(n):
        codes, kept, valid, rej = pairs_for(rng, modes[i])
        price, pct, meth, est = price_point(rng, kinds[i])
        payer = rng.choice(PAYERS)
        payer = f"{payer} [{PAYER_IDS[payer]}]" if rng.random() < 0.5 else payer
        row = [f"{rng.choice(WORDS)} service {i}", *codes,
               rng.choice(["outpatient", "inpatient", "N/A"]), "", "",
               rng.choice(["", "26|TC", "59"]), money(rng, 50, 20000),
               money(rng, 20, 9000), payer, rng.choice(PLANS), price, pct, "",
               meth, money(rng, 10, 500),
               "" if kinds[i] == "v6" else money(rng, 9000, 30000), est,
               rng.choice(["", "see contract"])]
        records.append((row, kinds[i], kept, valid, rej))
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerows(meta_rows(name, zip_code))
        w.writerow(TALL_HEADER)
        for (row, kind, kept, valid, rej), copy in with_copies(rng, records):
            w.writerow(row)
            tally.source_records += 1
            tally.pairs_rejected += rej
            tally.add(kind, kept, valid, copy)


def write_wide(rng, path, n, name, zip_code, tally):
    modes = spread(rng, n, PAIR2_MODES)
    groups = [(p, pl) for p in PAYERS for pl in PLANS]
    header = WIDE_STATIC + [f"standard_charge|{p}|{pl}|{fld}"
                            for p, pl in groups for fld in WIDE_FIELDS]
    # Rule 6 in a wide file comes from the row-level max price: a row
    # without one violates on every payer group that carries a price.
    no_max = spread(rng, n, [(False, 91), (True, 9)])
    records = []
    for i in range(n):
        codes, kept, valid, rej = pairs_for(rng, modes[i])
        static = [f"{rng.choice(WORDS)} service {i}", *codes,
                  rng.choice(["outpatient", "inpatient"]), "", "",
                  rng.choice(["", "26|TC"]), money(rng, 50, 20000),
                  money(rng, 20, 9000), money(rng, 10, 500),
                  "" if no_max[i] else money(rng, 9000, 30000),
                  rng.choice(["", "generic note"])]
        cells = [""] * (len(groups) * len(WIDE_FIELDS))
        outcomes = []
        for g in rng.sample(range(len(groups)), WIDE_FILLED):
            kind = rng.choices(["clean", "placeholder", "v7"], [87, 5, 8])[0]
            price, pct, meth, est = price_point(rng, kind)
            base = g * len(WIDE_FIELDS)
            cells[base:base + len(WIDE_FIELDS)] = [
                price, pct, "", est, meth, rng.choice(["", "payer note"])]
            outcomes.append("v6" if kind == "clean" and no_max[i] else kind)
        records.append((static + cells, outcomes, kept, valid, rej))
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerows(meta_rows(name, zip_code))
        w.writerow(header)
        for (row, outcomes, kept, valid, rej), copy in with_copies(rng, records):
            w.writerow(row)
            tally.source_records += 1
            tally.pairs_rejected += rej
            for kind in outcomes:
                tally.add(kind, kept, valid, copy)


def write_json(rng, path, n, name, zip_code, tally):
    modes = spread(rng, n, PAIR2_MODES)
    no_max = spread(rng, n, [(False, 92), (True, 8)])
    records = []
    for i in range(n):
        (c1, t1, c2, t2), kept, valid, rej = pairs_for(rng, modes[i])
        codes = [{"code": c1, "type": t1}]
        if c2:
            codes.append({"code": c2, "type": t2})
        payers, outcomes = [], []
        for p in rng.sample(PAYERS, 3):
            kind = rng.choices(["clean", "placeholder", "v7"], [87, 5, 8])[0]
            price, pct, meth, est = price_point(rng, kind)
            payers.append({
                "payer_name": f"{p} [{PAYER_IDS[p]}]", "plan_name": rng.choice(PLANS),
                "methodology": meth, "standard_charge_dollar": price,
                "standard_charge_percentage": pct, "standard_charge_algorithm": "",
                "estimated_amount": est, "additional_payer_notes": "",
                "modifiers": rng.choice(["", "26"])})
            outcomes.append("v6" if kind == "clean" and no_max[i] else kind)
        charge = {"gross_charge": money(rng, 50, 20000),
                  "discounted_cash": money(rng, 20, 9000),
                  "setting": rng.choice(["outpatient", "inpatient"]),
                  "minimum": money(rng, 10, 500), "payers_information": payers}
        if not no_max[i]:
            charge["maximum"] = money(rng, 9000, 30000)
        sci = {"description": f"{rng.choice(WORDS)} service {i}",
               "code_information": codes, "standard_charges": [charge]}
        records.append((sci, outcomes, kept, valid, rej))
    items = []
    for (sci, outcomes, kept, valid, rej), copy in with_copies(rng, records):
        items.append(sci)
        tally.source_records += 1
        tally.pairs_rejected += rej
        for kind in outcomes:
            tally.add(kind, kept, valid, copy)
    keys, vals = meta_rows(name, zip_code)
    doc = dict(zip(keys, vals))
    doc["standard_charge_information"] = items
    with open(path, "w") as f:
        json.dump(doc, f)


WRITERS = {"tall csv": (write_tall, "csv"), "wide csv": (write_wide, "csv"),
           "json": (write_json, "json")}
# Hospital names, and the campus_id the reference derives from them
# (hospital_enricher.py:42-45, Naming.campusId): lowercase, strip [.,'-&],
# split on whitespace, drop the generic words, join with "_". The CMS file
# carries only the name; the JVM derives its key with Naming.campusId, as
# the reference does on the CMS side. Keys come out 2 to about 46 characters
# long, so the enricher sees a few dozen length classes.
GENERIC_WORDS = {"hospital", "medical", "center", "campus", "health", "system",
                 "of", "corporation", "general", "university", "s", "regional"}
NAME_PREFIXES = ["", "", "", "St. Mary's", "Saint Joseph", "Mercy", "Good Samaritan",
                 "Sacred Heart", "Providence", "Baptist", "Methodist", "Memorial",
                 "Children's", "Community", "Valley", "Lakeside", "Riverside", "Trinity"]
NAME_GENERIC = ["Hospital", "Medical Center", "Regional Medical Center",
                "General Hospital", "Health System", "University Hospital",
                "Regional Hospital", "Campus"]
NAME_SUFFIXES = ["", "", "", "", "North", "East", "West", "South", "Heights",
                 "Womens & Infants", "Behavioral", "Rehabilitation"]
SYLLABLES = ["ash", "bel", "bro", "car", "den", "el", "fair", "glen", "ham",
             "ing", "kes", "lan", "mar", "nor", "ock", "pem", "quin", "ros",
             "stan", "ton", "vil", "wes", "york", "ford", "field", "wood",
             "dale", "ville", "burg", "port", "mont", "ridge", "brook", "haven"]
LETTERS = "abcdefghijklmnopqrstuvwxyz"
CUTOFF = 0.9  # the enricher's fuzzy cutoff


def campus_id(name):
    s = re.sub(r"[.,'\-&]", "", name.lower())
    return "_".join(t for t in s.split() if t not in GENERIC_WORDS)


def hospital_name(rng):
    place = "".join(rng.choice(SYLLABLES) for _ in range(rng.randrange(1, 4))).title()
    if rng.random() < 0.25:
        place += " " + "".join(rng.choice(SYLLABLES)
                               for _ in range(rng.randrange(1, 3))).title()
    parts = [rng.choice(NAME_PREFIXES), place, rng.choice(NAME_GENERIC),
             rng.choice(NAME_SUFFIXES)]
    if rng.random() < 0.2:
        parts = [parts[0], rng.choice(NAME_GENERIC), "of", place, parts[3]]
    return " ".join(p for p in parts if p)


def name_for_key(rng, key):
    """A scraped hospital name that derives to `key`."""
    words = " ".join(w.title() for w in key.split("_"))
    return f"{words} {rng.choice(NAME_GENERIC)}"


def ratio(a, b):
    return difflib.SequenceMatcher(None, a, b, autojunk=False).ratio()


def index_class(la, lb):
    """The enricher's candidate mechanism for length class (la, lb):
    ("D", 0) deletion variants, ("G", L*) L*-grams, or None (unreachable)."""
    mc = math.ceil((la + lb) * CUTOFF / 2.0 - 1e-9)
    da, db = la - mc, lb - mc
    if da < 0 or db < 0:
        return None
    if da <= 1 and db <= 1:
        return ("D", 0)
    u = la + lb - 2 * mc
    return ("G", max((mc + u) // (u + 1), 1))


def shares_gram(a, b, n):
    grams = {a[i:i + n] for i in range(len(a) - n + 1)}
    return any(b[i:i + n] in grams for i in range(len(b) - n + 1))


def best_ratio(key, by_len):
    """The key's highest ratio against any CMS key (length-banded)."""
    la = len(key)
    best = 0.0
    # The character-bag bound is symmetric, so one matcher indexes `key`
    # once; the exact ratio keeps the enricher's (scraped, CMS) order.
    bound = difflib.SequenceMatcher(None, autojunk=False)
    bound.set_seq2(key)
    for lb in range(int(la * CUTOFF / (2 - CUTOFF)), int(la * (2 - CUTOFF) / CUTOFF) + 2):
        for k in by_len.get(lb, ()):
            bound.set_seq1(k)
            if bound.quick_ratio() > best:
                best = max(best, ratio(key, k))
                if best >= CUTOFF:
                    return best
    return best


def edit(rng, key, op):
    """One edit of a letter of `key` (never the "_" separators)."""
    pos = rng.choice([i for i, ch in enumerate(key) if ch != "_"])
    if op == "sub":
        return key[:pos] + rng.choice(LETTERS.replace(key[pos], "")) + key[pos + 1:]
    if op == "ins":
        return key[:pos] + rng.choice(LETTERS) + key[pos:]
    return key[:pos] + key[pos + 1:]


def valid_key(k):
    return bool(k) and campus_id(k.replace("_", " ")) == k


def near_miss(rng, src, cms_keys, used):
    """One substitution, insertion or deletion of `src` scoring at least the
    cutoff against it: the enricher must find it through its fuzzy index."""
    for _ in range(50):
        k = edit(rng, src, rng.choice(["sub", "ins", "del"]))
        if valid_key(k) and k not in cms_keys and k not in used and \
                ratio(k, src) >= CUTOFF:
            return k
    return None


def below_cutoff(rng, src, cms_keys, used, by_len, gram):
    """Edits of `src` until it scores in [0.7, cutoff) against it and below
    the cutoff against every CMS key. With `gram` it must still share an
    L*-gram with `src`, so the index proposes the pair and the confirm step
    rejects it."""
    for _ in range(50):
        k = src
        while ratio(k, src) >= CUTOFF:
            k = edit(rng, k, rng.choice(["sub", "sub", "ins", "del"]))
        cls = index_class(len(k), len(src))
        if not valid_key(k) or k in cms_keys or k in used or ratio(k, src) < 0.7:
            continue
        if gram and not (cls and cls[0] == "G" and shares_gram(k, src, cls[1])):
            continue
        if best_ratio(k, by_len) < CUTOFF:
            return k
    return None


def registry_inputs(rng, out, n_cms, n_scraped, campuses):
    """CMS rows and scraped rows with planted match kinds; returns the
    counts, the per-mechanism counts, and the ETL campuses' scraped rows."""
    cms_names, cms_keys = [], set()
    while len(cms_names) < n_cms:
        name = hospital_name(rng)
        k = campus_id(name)
        if k and k not in cms_keys:
            cms_keys.add(k)
            cms_names.append(name)
    with open(os.path.join(out, "cms.jsonl"), "w") as f:
        for name in cms_names:
            f.write(json.dumps({
                "facility_name": name, "cms_rating": str(rng.randrange(1, 6)),
                "hospital_type": rng.choice(["Acute Care", "Critical Access"]),
                "county": rng.choice(["Adams", "Baker", "Clark"]),
                "telephone_num": f"555{rng.randrange(10**6, 10**7)}",
                "cms_zip": f"{rng.randrange(10000, 100000)}"}) + "\n")
    by_len = {}
    for k in sorted(cms_keys):
        by_len.setdefault(len(k), []).append(k)
    # Assumed split (no source gives one): most scraped hospitals are in
    # the CMS table under the same derived key, a fifth differ by one
    # character, a tenth are absent.
    kinds = spread(rng, n_scraped, [("exact", 70), ("fuzzy", 20), ("none", 10)])
    sources = [campus_id(n) for n in cms_names]
    rng.shuffle(sources)
    src_iter = iter(sources)
    used = set()
    rows = []  # (kind, name, key)
    mech = {"fuzzy_deletion": 0, "fuzzy_gram": 0, "none_gram_rejected": 0,
            "none_other": 0}
    for i, kind in enumerate(kinds):
        k = None
        while k is None:
            src = next(src_iter)  # a CMS key no other scraped row derives from
            if kind == "exact":
                k = src
            elif kind == "fuzzy":
                k = near_miss(rng, src, cms_keys, used)
            else:
                k = below_cutoff(rng, src, cms_keys, used, by_len, gram=i % 2 == 0)
        if kind == "fuzzy":
            mech["fuzzy_deletion" if index_class(len(k), len(src))[0] == "D"
                 else "fuzzy_gram"] += 1
        elif kind == "none":
            mech["none_gram_rejected" if i % 2 == 0 else "none_other"] += 1
        used.add(k)
        name = name_for_key(rng, k)
        rows.append((name, k))
    header = ["hospital_name", "campus_id", "healthcare_system", "city",
              "state", "hospital_address", "zip_code", "raw_filename",
              "structure", "file_format", "last_updated_on", "version",
              "etl_status"]
    # The ETL campuses land on random scraped rows, so on random match kinds.
    slot_of = {j: s for s, j in enumerate(rng.sample(range(n_scraped), len(campuses)))}
    campus_rows = [None] * len(campuses)
    with open(os.path.join(out, "scraped.csv"), "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        for j, (name, k) in enumerate(rows):
            zip_code = f"{rng.randrange(10000, 100000)}"
            structure = campuses[slot_of[j]] if j in slot_of else "tall csv"
            ext = WRITERS[structure][1]
            if j in slot_of:
                campus_rows[slot_of[j]] = (k, name, zip_code, f"bench_health_{j % 7}")
            w.writerow([name, k, f"Bench Health {j % 7}",
                        "Springfield", "ST", f"1 Main St, Springfield, ST {zip_code}",
                        zip_code, f"{k}.{ext}", structure, ext, "", "", "new"])
    matches = {kd: kinds.count(kd) for kd in ("exact", "fuzzy", "none")}
    lengths = sorted({len(k) for k in cms_keys})
    return matches, mech, len(lengths), campus_rows


def generate(workload, seed, out, spec=None):
    spec = spec or WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    os.makedirs(out, exist_ok=True)
    structures = [s for s, _ in spec["campuses"]]
    matches, mech, n_lengths, rows = registry_inputs(
        rng, out, spec["cms"], spec["scraped"], structures)
    campuses = []
    for (structure, n), (cid, name, zip_code, system) in zip(spec["campuses"], rows):
        writer, ext = WRITERS[structure]
        d = os.path.join(out, "data", "raw data", system)
        os.makedirs(d, exist_ok=True)
        tally = Tally()
        writer(rng, os.path.join(d, f"{cid}.{ext}"), n, name, zip_code, tally)
        campuses.append({"campus_id": cid, "system": system,
                         "structure": structure, "planted": tally.planted()})
    manifest = {"workload": workload, "seed": seed,
                "registry": {"scraped": spec["scraped"], "cms": spec["cms"],
                             "matches": matches, "mechanisms": mech,
                             "cms_key_lengths": n_lengths},
                "campuses": campuses}
    # Written last and renamed into place: its presence means the inputs
    # are complete (the JVM starts its session while this runs).
    tmp = os.path.join(out, "manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, os.path.join(out, "manifest.json"))
    return manifest


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: gen.py <workload> <seed> <out_dir>")
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
