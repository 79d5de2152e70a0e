"""Seeded input generators for the graft benchmark workloads.

Every table is a pure function of (workload, seed): the same seed gives
byte-identical files, a different seed gives different rows. The PRNG is
splitmix64, implemented here, so the output does not depend on the
Python version's `random` module. `run.py` calls `generate`.
"""
import csv
import hashlib
import io
import os

MASK = (1 << 64) - 1

# e2e fixture catalog the esoa_link catalog extends (repo-relative)
FIXTURE_DIR = os.path.join("src", "test", "resources", "graft")

# esoa_link sizes
DRUG_ROWS = 600
DRUG_POOL = 200
LAB_ROWS = 200
SYNTH_GENERICS = 300
SYNTH_ANNEX = 40
LAB_MASTER = 300
LAB_DIAG = 150

# corpus_curation size
CORPUS_DOCS = 400

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = (("en", 41), ("zh", 15), ("de", 14), ("es", 15), ("fr", 15))


def _mix(z: int) -> int:
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK
    return z ^ (z >> 31)


class Rng:
    """splitmix64 — tiny, portable, and fully specified. The seed is mixed
    into the start state, so neighbouring seeds give unrelated streams."""

    def __init__(self, seed: int):
        self.s = _mix((seed + 0x632BE59BD9B4E019) & MASK)

    def next64(self) -> int:
        self.s = (self.s + 0x9E3779B97F4A7C15) & MASK
        return _mix(self.s)

    def below(self, n: int) -> int:
        return self.next64() % n

    def pick(self, xs):
        return xs[self.below(len(xs))]

    def weighted(self, pairs):
        total = sum(w for _, w in pairs)
        r = self.below(total)
        for v, w in pairs:
            if r < w:
                return v
            r -= w
        raise AssertionError("unreachable")


# --------------------------------------------------------------- esoa_link

SYLLABLES = ("ba ce di fo gu ka le mi no pu ra se ti vo xa ze lo ni "
             "qua tre bro cly dra fen gor hul").split()
SUFFIXES = ("mab pril statin olol azole cillin mycin vir tide parin "
            "dronate sartan pine zepam tinib floxacin conazole setron "
            "lukast gliptin").split()
FORMS = ("TABLET TAB CAPSULE CAP SYRUP SUSPENSION VIAL AMPULE NEBULE "
         "INHALER CREAM DROPS").split()
DOSES = ("5MG 10MG 20MG 25MG 40MG 50MG 80MG 100MG 125MG 250MG 500MG "
         "850MG 1G 2.5MG/2.5ML 250MG/5ML 1MG/ML").split()
JUNK = ("SURGICAL GLOVES SIZE 7", "OXYGEN MASK ADULT", "SYRINGE 5ML",
        "GAUZE PAD 4X4", "ADMISSION KIT", "IV CANNULA G22", "COTTON BALLS",
        "URINE BAG 2L", "MICROPORE TAPE 1IN", "ALCOHOL SWAB")
LAB_WORDS = ("SERUM BLOOD URINE PLASMA FASTING RANDOM TOTAL FREE DIRECT "
             "GLUCOSE SODIUM POTASSIUM CHLORIDE CALCIUM CREATININE UREA "
             "ALBUMIN BILIRUBIN CHOLESTEROL TRIGLYCERIDE HEMOGLOBIN "
             "PLATELET FERRITIN TSH T3 T4 LIPASE AMYLASE CULTURE PANEL "
             "COUNT LEVEL TEST SCREEN").split()
DIAG_WORDS = ("XRAY CT MRI ULTRASOUND ECG 2D-ECHO CHEST ABDOMEN PELVIS "
              "SKULL SPINE KNEE HAND PA LATERAL AP PLAIN CONTRAST "
              "WHOLE UPPER LOWER").split()


def _read_csv(path):
    with open(path, newline="", encoding="utf-8") as f:
        return list(csv.DictReader(f))


def _fixture_catalog(root):
    e2e = os.path.join(root, FIXTURE_DIR, "e2e")
    return (_read_csv(os.path.join(e2e, "unified_generics.csv")),
            _read_csv(os.path.join(e2e, "unified_brands.csv")))


def _synthetic_generics(rng, n, taken):
    out, seen = [], set(taken)
    while len(out) < n:
        k = 2 + rng.below(2)
        name = ("".join(rng.pick(SYLLABLES) for _ in range(k)) +
                rng.pick(SUFFIXES)).upper()
        if name in seen:
            continue
        seen.add(name)
        out.append(name)
    return out


def _misspell(rng, name):
    """One deletion inside the longest token of at least six letters."""
    toks = name.split(" ")
    i = max(range(len(toks)), key=lambda j: (len(toks[j]), -j))
    t = toks[i]
    if len(t) < 6:
        return None
    p = 1 + rng.below(len(t) - 2)
    toks[i] = t[:p] + t[p + 1:]
    return " ".join(toks)


def esoa_tables(seed, root):
    """All esoa_link inputs as {table: (header, rows)} plus input facts."""
    rng = Rng(seed)
    fx_generics, fx_brands = _fixture_catalog(root)
    fx_names = [g["generic_name"] for g in fx_generics]
    synth = _synthetic_generics(rng, SYNTH_GENERICS, fx_names)
    all_names = fx_names + synth
    single = [n for n in all_names if "+" not in n]
    brands = sorted({b["brand_name"].upper() for b in fx_brands})

    def dosed(name):
        return f"{name} {rng.pick(DOSES)} {rng.pick(FORMS)}"

    # text kinds in fixed proportions (per 20 texts), so the share of
    # fuzzy-leg work does not swing with the seed
    kinds = (["clean"] * 6 + ["brand"] * 2 + ["misspelled"] * 5 +
             ["combo"] * 2 + ["iv"] * 2 + ["dose_variant"] * 2 + ["junk"])
    synth_set = set(synth)
    pool, pool_kind, pool_truth, seen = [], [], [], set()
    while len(pool) < DRUG_POOL:
        kind = kinds[len(pool) % len(kinds)]
        truth = None
        if kind == "clean":
            name = rng.pick(all_names)
            text = dosed(name)
            truth = name if name in synth_set else None
        elif kind == "brand":
            text = dosed(rng.pick(brands))
        elif kind == "misspelled":
            m = _misspell(rng, rng.pick(single))
            if m is None:
                continue
            text = dosed(m)
        elif kind == "combo":
            a, b = rng.pick(single), rng.pick(single)
            if a == b:
                continue
            text = (f"{a} + {b} {rng.pick(DOSES[:11])}/"
                    f"{rng.pick(DOSES[:11])} {rng.pick(FORMS[:4])}")
        elif kind == "iv":
            dil = rng.pick(("NSS", "D5W", "PNSS", "D5LR"))
            vol = rng.pick((50, 100, 250, 500, 1000))
            text = (f"{rng.pick(single)} {rng.pick(DOSES[:11])} IN "
                    f"{vol}ML {dil} INFUSION")
        elif kind == "dose_variant":
            n = rng.pick(single)
            amount = rng.pick((5, 10, 20, 40, 50, 100, 250, 500))
            unit = rng.pick((f"{amount} MG", f"{amount}MG",
                             f"{amount / 1000:g}G", f"{amount}MG/5ML"))
            text = f"{n} {unit} {rng.pick(FORMS)}"
        else:
            text = rng.pick(JUNK) + f" #{rng.below(50)}"
        if text in seen:
            continue
        seen.add(text)
        pool.append(text)
        pool_kind.append(kind)
        pool_truth.append(truth)

    billing, truth_rows, used, misspelled_rows = [], [], set(), 0
    for i in range(DRUG_ROWS):
        # skewed reuse: a third of the rows repeat the hottest 5% of texts
        if rng.below(3) == 0:
            j = rng.below(max(1, DRUG_POOL // 20))
        else:
            j = rng.below(DRUG_POOL)
        used.add(j)
        misspelled_rows += pool_kind[j] == "misspelled"
        billing.append((str(i + 1), str(10000 + rng.below(90000)),
                        "DrugsAndMedicine", pool[j],
                        f"esoa_{1 + rng.below(4)}.csv"))
        if pool_truth[j]:
            truth_rows.append((str(i + 1), pool_truth[j]))

    master = []
    for i in range(LAB_MASTER):
        words = [rng.pick(LAB_WORDS) for _ in range(2 + rng.below(3))]
        master.append((str(20000 + i), rng.pick(("Y", "N")),
                       " ".join(words) + f" {i}"))
    diag = []
    for i in range(LAB_DIAG):
        words = [rng.pick(DIAG_WORDS) for _ in range(2 + rng.below(3))]
        diag.append((f"DX{i:04d}", " ".join(words) + f" V{i}",
                     rng.pick(("IMAGING", "CARDIO")), "NA", "", ""))
    for i in range(LAB_ROWS):
        r = rng.below(10)
        if r < 5:
            d = rng.pick(master)[2]
            d = rng.pick((d, d.lower(), d.replace(" ", "  "), d + "."))
        elif r < 8:
            d = rng.pick(diag)[1]
            d = rng.pick((d, d.lower(), d.replace(" ", "-")))
        else:
            d = " ".join(rng.pick(LAB_WORDS) for _ in range(3)) + " X"
        # some item numbers fall in the prepare step's excluded range
        item = 1540 + rng.below(357) if rng.below(20) == 0 \
            else 3000 + rng.below(5000)
        billing.append((str(DRUG_ROWS + i + 1), str(item),
                        "LaboratoryAndDiagnostic", d,
                        f"esoa_{1 + rng.below(4)}.csv"))

    synth_rows = [(f"DBS{i:05d}", n, n.lower(), "drugbank")
                  for i, n in enumerate(synth)]
    # Annex F rows arrive pre-tagged, like the fixture's Part-4 input
    annex = []
    for i in range(SYNTH_ANNEX):
        n = synth[rng.below(len(synth))]
        dose = rng.pick(DOSES[:11])
        annex.append((f"S{i:04d}", f"{n} {dose} {rng.pick(FORMS)}", n, dose))

    facts = {
        "drug_rows": DRUG_ROWS,
        "lab_rows": LAB_ROWS,
        "distinct_text_share": round(len(used) / DRUG_ROWS, 4),
        "misspelled_share": round(misspelled_rows / DRUG_ROWS, 4),
        "synthetic_generics": len(synth),
        "annex_rows": len(annex),
    }
    tables = {
        "billing.csv": (("id", "ITEM_NUMBER", "ITEM_REF_CODE", "DESCRIPTION",
                         "SOURCE_FILE"), billing),
        "synthetic_generics.csv": (("drugbank_id", "generic_name",
                                    "name_key", "source"), synth_rows),
        "synthetic_annex.csv": (("Drug Code", "Drug Description",
                                 "matched_generic_name", "dose"), annex),
        "labs_master.csv": (("ITEM_NUMBER", "IS_OFFICIAL", "DESCRIPTION"),
                            master),
        "labs_diagnostics.csv": (("code", "desc", "cat", "spec", "etc",
                                  "misc"), diag),
        # expected tags of the lines built from a synthetic name; read by
        # the harness's check, never by the program under test
        "truth.csv": (("id", "generic_name"), truth_rows),
    }
    return tables, facts


# ------------------------------------------------------------------ corpus

def decontam_bucket(lang, doc_id):
    """Python twin of the bucket graft's decontamination splits on:
    documents in buckets 250..255 are the benchmark side."""
    return int(hashlib.md5(f"{lang}:{doc_id}".encode()).hexdigest()[:2], 16)


def corpus_rows(seed, n_docs=CORPUS_DOCS):
    """documents(doc_id, text, lang, source, n_chars) in the shape of the
    generated test corpora (TESTDATA.md): uniform words over a 30-word
    vocabulary, 10–99 words, 5% near-duplicates (an earlier doc plus
    " dup"), 0.4% exact duplicates, and a few docs that quote a
    benchmark-side doc, so q115's decontamination stage finds hits.
    """
    rng = Rng(seed ^ 0x5EED)
    rows = []
    for i in range(n_docs):
        lang = rng.weighted(LANGS)
        # fixed duplicate counts, so the dedup stages' work does not swing
        # with the seed; which doc is copied is seeded
        if i % 20 == 19:
            text = rows[rng.below(i)][1] + " dup"
        elif i % 250 == 249:
            text = rows[rng.below(i)][1]
        else:
            text = " ".join(rng.pick(VOCAB) for _ in range(10 + rng.below(90)))
        rows.append([i, text, lang, f"src{rng.below(20)}"])
    bench = [r[1] for r in rows if decontam_bucket(r[2], r[0]) >= 250]
    for r in rows:
        b = decontam_bucket(r[2], r[0])
        if bench and 200 <= b < 250 and rng.below(10) == 0:
            r[1] = rng.pick(bench)
    return [(d, t, l, s, len(t)) for d, t, l, s in rows]


def corpus_facts(rows):
    return {
        "documents": len(rows),
        "distinct_text_share": round(len({r[1] for r in rows}) / len(rows), 4),
        "benchmark_side_docs": sum(
            1 for r in rows if decontam_bucket(r[2], r[0]) >= 250),
    }


# ----------------------------------------------------------------- writers

def csv_bytes(header, rows):
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue().encode("utf-8")


def write_documents(rows, path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    cols = list(zip(*rows))
    table = pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()),
        "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array(cols[4], pa.int64()),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def generate(workload, seed, out_dir, root):
    """Write the workload's inputs under out_dir; return its input facts."""
    os.makedirs(out_dir, exist_ok=True)
    if workload == "esoa_link":
        tables, facts = esoa_tables(seed, root)
        for name, (header, rows) in tables.items():
            with open(os.path.join(out_dir, name), "wb") as f:
                f.write(csv_bytes(header, rows))
        return facts
    if workload == "corpus_curation":
        rows = corpus_rows(seed)
        write_documents(rows, os.path.join(out_dir, "documents.parquet"))
        return corpus_facts(rows)
    raise ValueError(f"unknown workload {workload!r}")

