"""Seeded input generators for the two workloads and the battery pass.

Everything here is a pure function of ``--seed``: the same seed yields
byte-identical inputs. Generators never import the engine, so a change to
the code under test cannot change what it is fed.

- :func:`org_tree` — a DHIS2-shaped org-unit tree (root / regions /
  districts / facilities) with pronounceable, pairwise-dissimilar names.
- :func:`pnls_inputs` — the DHIS2 analytics and NAOMI fetch functions for
  ``pnls_report``. Both are closures over plain data that import only the
  stdlib inside, so cloudpickle ships them by value to Python workers.
- :func:`chu_inputs` — CHU ``.xlsx`` workbooks with messy French headers
  and mangled facility names, the registry seed, and the ground truth id
  of every name the generator made resolvable.
- :func:`battery_tables` — TPC-H-ish parquet tables (plus ``events``,
  ``documents``, ``embeddings``) for the battery pass.
"""

from __future__ import annotations

import json
import os
import random
import uuid
import zipfile
from xml.sax.saxutils import escape

ROOT_UID = "ZD44Asc0bAk"  # the country root every report strips
DEFAULT_COC = "HllvX50cXC0"  # DHIS2's default category-option combo
PERIODS = ["202401", "202402", "202403"]
UID_CHARS = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

# no syllable folds (accents dropped) into another, so distinct words stay
# distinct under the engine's name normalization
_SYLLABLES = [
    "ba", "bé", "bo", "da", "dou", "gbo", "ka", "gnô", "la", "lé", "ma",
    "mè", "na", "nio", "pa", "ro", "sa", "sé", "ta", "tié", "wa", "ya",
    "zo", "fe", "gui", "ko", "ni", "di", "ri", "bou",
]


def _uid(rng: random.Random) -> str:
    return rng.choice(UID_CHARS[:52]) + "".join(
        rng.choice(UID_CHARS) for _ in range(10)
    )


def _words(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct three-syllable words, capitalized."""
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choice(_SYLLABLES) for _ in range(3)).capitalize())
    words = sorted(out)  # set order varies with the process's hash seed
    rng.shuffle(words)
    return words


def org_tree(seed: int, n_districts: int, n_facilities: int) -> dict:
    """Org units ``(id, name, level, path)`` plus name pools.

    Facility names are ``<type> <word> <word>`` with every word used by at
    most one facility, so no two facilities share a token beyond the type
    and fuzzy matching has exactly one right answer. ``spare_words`` are
    words no org unit uses (for unknown facilities)."""
    rng = random.Random(f"org|{seed}")
    words = _words(rng, n_districts + 2 * n_facilities + 400)
    district_words = words[:n_districts]
    fac_words = words[n_districts : n_districts + 2 * n_facilities]
    spare = words[n_districts + 2 * n_facilities :]
    types = ["CSU", "CSR", "Hôpital Général", "Centre de Santé", "Dispensaire"]
    n_regions = max(1, n_districts // 10)
    units = [(ROOT_UID, "Côte d'Ivoire", 1, f"/{ROOT_UID}")]
    regions = []
    for i in range(n_regions):
        rid = _uid(rng)
        regions.append((rid, f"/{ROOT_UID}/{rid}"))
        units.append((rid, f"Région {i}", 2, regions[-1][1]))
    districts = []
    for i, w in enumerate(district_words):
        did = _uid(rng)
        rid, rpath = regions[i % n_regions]
        d = {"id": did, "name": f"DS {w}", "word": w, "path": f"{rpath}/{did}"}
        districts.append(d)
        units.append((did, d["name"], 3, d["path"]))
    facilities = []
    for i in range(n_facilities):
        fid = _uid(rng)
        d = districts[i % n_districts]
        name = f"{types[i % len(types)]} {fac_words[2 * i]} {fac_words[2 * i + 1]}"
        f = {"id": fid, "name": name, "district": d, "path": f"{d['path']}/{fid}"}
        facilities.append(f)
        units.append((fid, name, 4, f["path"]))
    return {
        "units": units,
        "districts": districts,
        "facilities": facilities,
        "spare_words": spare,
    }


# ---------------------------------------------------------------------------
# pnls_report: DHIS2 analytics + NAOMI fetch functions
# ---------------------------------------------------------------------------


def make_value_fn(seed: int):
    """``value(p, f, t, c) -> str | None``: the analytics cell of pathology
    ``p``, facility ``f``, period ``t``, contract column ``c``.

    One facility-month in seven is *noisy* (values 0..96, one cell in
    twenty missing), which is what fires the consistency rules; the rest
    are *clean*: one constant (10..50) per row for IST (every IST rule is an
    ``X<X`` / ``X+X<X`` shape, false on a constant row) and 0 for PEC and
    PTME (whose ``X<X+X`` / ``X!=X+X`` shapes fire on any other constant).
    Self-contained (stdlib only) so it pickles by value."""
    base = seed * 0x9E3779B97F4A7C15

    def mix(*xs: int) -> int:
        h = base & 0xFFFFFFFFFFFFFFFF
        for x in xs:
            h = (h ^ (x + 0x9E3779B97F4A7C15 + (h << 6) + (h >> 2))) & 0xFFFFFFFFFFFFFFFF
            h = (h * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
            h ^= h >> 31
        return h

    def value(p: int, f: int, t: int, c: int) -> str | None:
        if mix(1, p, f, t) % 7 == 0:
            h = mix(2, p, f, t, c)
            return None if h % 20 == 0 else str(h % 97)
        return str(10 * (1 + mix(3, p, f, t) % 5)) if p == 0 else "0"

    return value


def pnls_inputs(seed: int, n_facilities: int, contracts: dict[str, list[str]]) -> dict:
    """Everything ``pnls_report`` feeds the engine, as plain Python.

    ``contracts`` maps pathology → its shipped wide contract columns (IST,
    PEC, PTME order). Each contract column is fed by its own data element
    through the default COC, so the wide name equals the contract name."""
    tree = org_tree(seed, max(4, n_facilities // 7), n_facilities)
    fac_ids = [f["id"] for f in tree["facilities"]]
    rng = random.Random(f"de|{seed}")
    de_maps: dict[str, list[tuple[str, str, str]]] = {}
    de_index: dict[str, tuple[int, int]] = {}
    for p, (name, cols) in enumerate(contracts.items()):
        rows = []
        for c, col in enumerate(cols):
            de = _uid(rng)
            de_index[de] = (p, c)
            rows.append((de, col, "data_element"))
        de_maps[name] = rows
    value = make_value_fn(seed)
    periods = list(PERIODS)

    def dhis2_fetch(param: dict) -> list[dict]:
        p, c = de_index[param["data_element"]]
        pe = param["period"]
        t = periods.index(pe)
        out = []
        for f, ou in enumerate(fac_ids):
            v = value(p, f, t, c)
            if v is not None:
                out.append(
                    {
                        "data_element_id": param["data_element"],
                        "category_option_combo_id": "HllvX50cXC0",
                        "organisation_unit_id": ou,
                        "period": pe,
                        "value": v,
                    }
                )
        return out

    # NAOMI: one estimate per (district, indicator, sex, age) request cell,
    # nested two levels deep like the real API (region → district)
    by_region: dict[str, list[tuple[str, str]]] = {}
    mapping = []
    for k, d in enumerate(tree["districts"]):
        code = f"CIV_{k:03d}"
        by_region.setdefault(d["path"].split("/")[2], []).append((code, d["name"]))
        mapping.append((code, d["id"]))
    regions = [by_region[r] for r in sorted(by_region)]

    def naomi_fetch(param: dict) -> list[dict]:
        import json as _json
        import zlib as _zlib

        key = f"{seed}|{param['indicator']}|{param['sex']}|{param['age_code']}"
        doc = [
            {
                "subareas": [
                    {
                        "subareas": [
                            {
                                "code": code,
                                "name": name,
                                "mean": float(_zlib.crc32(f"{key}|{code}".encode()) % 5000) / 4,
                            }
                            for code, name in region
                        ]
                    }
                    for region in regions
                ]
            }
        ]
        return [
            {
                "indicator": param["indicator"],
                "coc_name": f"{param['age_code']}, {param['sex']}",
                "payload_json": _json.dumps(doc),
            }
        ]

    wide_rows = {
        name: [
            {
                "organisation_unit_id": ou,
                "period": pe,
                **{col: _num(value(p, f, t, c)) for c, col in enumerate(cols)},
            }
            for f, ou in enumerate(fac_ids)
            for t, pe in enumerate(periods)
        ]
        for p, (name, cols) in enumerate(contracts.items())
    }
    n_rows = sum(
        1
        for p, cols in enumerate(contracts.values())
        for f in range(len(fac_ids))
        for t in range(len(periods))
        for c in range(len(cols))
        if value(p, f, t, c) is not None
    )
    return {
        "units": tree["units"],
        "de_maps": de_maps,
        "periods": periods,
        "dhis2_fetch": dhis2_fetch,
        "naomi_fetch": naomi_fetch,
        "naomi_mapping": mapping,
        "wide_rows": wide_rows,
        "input_rows": n_rows + 28 * len(mapping),
    }


def _num(v: str | None) -> float | None:
    return None if v is None else float(v)


# ---------------------------------------------------------------------------
# chu_ingest: workbooks, registry seed, ground truth
# ---------------------------------------------------------------------------

# The PEC sheet's indicator labels as hospitals type them: accents dropped,
# case changed, stray spaces — fuzzy header resolution has to undo this.
_PEC_LABELS = {
    "indicateur_1": "Nombre de Patients dépistés positifs au VIH dans la communauté, "
    "référés et nouvellement enrôlés dans les soins VIH",
    "indicateur_8": "Nombre de Patients VIH positif dont le résultat de la charge "
    "virale a été reçu au cours du mois",
    "indicateur_10": "Nombre de Patients VIH positif ayant nouvellement commencé "
    "(initié) le traitement ARV dans l'établissement au cours du mois",
    "indicateur_11": "Nombre de Patients VIH positif sous ARV (file active)",
    "indicateur_14": "Nombre de patients VIH positif ayant débuté le traitement de "
    "la tuberculose dans l'établissement",
}
CHU_MONTHS = ["202401", "202402", "202403", "202404", "202405", "202406"]


def _mangle_header(label: str, rng: random.Random) -> str:
    out = label
    if rng.random() < 0.5:
        out = out.replace("é", "e").replace("è", "e").replace("ô", "o")
    if rng.random() < 0.5:
        out = out.lower()
    return ("  " if rng.random() < 0.3 else "") + out + (" " if rng.random() < 0.5 else "")


def _fold(s: str) -> str:
    return s.replace("é", "e").replace("è", "e").replace("ô", "o").replace("É", "E")


def _mangle_name(name: str, rng: random.Random, reorder: bool) -> str:
    """A spelling the engine's normalization (case, accents, punctuation,
    spaces) or token-set scoring (word order) maps back to ``name``."""
    words = name.split()
    if reorder:
        words = words[:-2] + [words[-1], words[-2]]
    out = " ".join(words)
    r = rng.random()
    if r < 0.25:
        out = out.upper()
    elif r < 0.5:
        out = _fold(out)
    elif r < 0.75:
        out = out + "."
    return ("" if rng.random() < 0.5 else " ") + out + ("  " if rng.random() < 0.3 else "")


def chu_inputs(
    seed: int,
    out_dir: str,
    n_districts: int,
    n_facilities: int,
    n_names: int,
    n_workbooks: int,
) -> dict:
    """Write ``n_workbooks`` CHU workbooks (sheet ``PEC``) and the registry
    seed rows; return paths, ground truth and input size.

    Of the ``n_names`` facility spellings: half are already in the
    registry (tier 1), 35 % are only in DHIS2 (tier 2; a few with swapped
    word order so they need scoring), 10 % are unknown facilities in a
    known district (tier 3, synthesized id), 5 % match nothing (dropped).
    """
    tree = org_tree(seed, n_districts, n_facilities)
    rng = random.Random(f"chu|{seed}")
    facs = rng.sample(tree["facilities"], int(n_names * 0.85))
    n_reg = n_names // 2
    names: list[dict] = []
    for i, f in enumerate(facs):
        tier = 1 if i < n_reg else 2
        spelled = _mangle_name(f["name"], rng, reorder=tier == 2 and i % 12 == 0)
        names.append(
            {"name": spelled, "district": f["district"]["name"], "tier": tier,
             "truth": f["path"]}
        )
    spare = list(tree["spare_words"])
    n_unknown = n_names - len(facs)
    for i in range(n_unknown):
        d = rng.choice(tree["districts"])
        spelled = f"Cabinet Médical {spare[2 * i]} {spare[2 * i + 1]}"
        if i % 3 == 2:  # district nobody knows: dropped by the engine
            names.append({"name": spelled, "district": f"Zone {spare[-1 - i]}",
                          "tier": 0, "truth": None})
        else:
            district = f"CHU de {d['word']}" if i % 2 else d["word"].upper()
            truth = f"{d['path']}/{uuid.uuid5(uuid.NAMESPACE_DNS, spelled.strip()).hex}"
            names.append({"name": spelled, "district": district, "tier": 3,
                          "truth": truth})

    registry = [
        (n["truth"], n["name"].strip(), n["district"]) for n in names if n["tier"] == 1
    ]
    labels = {k: _mangle_header(v, rng) for k, v in _PEC_LABELS.items()}
    services = ["Médecine", "Pédiatrie"]
    paths = []
    n_rows = 0
    for w in range(n_workbooks):
        header = ["Région", "Districts", "Etablissements ", "Service", "Mois",
                  *labels.values()]
        grid: list[list[object]] = [header]
        for n in names[w::n_workbooks]:
            for month in CHU_MONTHS:
                for s in services[: 1 + rng.randrange(2)]:
                    cells: list[object] = []
                    for _ in labels:
                        v = rng.randrange(200)
                        r = rng.random()
                        cells.append(f'"{v}"' if r < 0.1 else (f" {v} " if r < 0.2 else float(v)))
                    grid.append(["Région", n["district"], n["name"], s, month, *cells])
                    n_rows += 1
        path = os.path.join(out_dir, f"chu_{w}.xlsx")
        write_xlsx(path, {"PEC": grid})
        paths.append(path)
    return {
        "units": tree["units"],
        "workbooks": paths,
        "registry": registry,
        "names": names,
        "input_rows": n_rows,
        "value_columns": list(labels),
    }


def write_xlsx(path: str, sheets: dict[str, list[list[object]]]) -> None:
    """Minimal stdlib ``.xlsx`` writer: inline strings and numbers."""

    def col(n: int) -> str:
        s = ""
        n += 1
        while n:
            n, r = divmod(n - 1, 26)
            s = chr(65 + r) + s
        return s

    def cell(ref: str, v: object) -> str:
        if v is None:
            return ""
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return f'<c r="{ref}"><v>{v!r}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">{escape(str(v))}</t></is></c>'

    main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg = "http://schemas.openxmlformats.org/package/2006/relationships"
    names = list(sheets)

    def part(name: str) -> zipfile.ZipInfo:  # fixed timestamp: same bytes every run
        info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_DEFLATED
        return info

    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(
            part("[Content_Types].xml"),
            '<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.'
            'openxmlformats.org/package/2006/content-types"><Default Extension="rels" '
            'ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/><Override '
            'PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-'
            'officedocument.spreadsheetml.sheet.main+xml"/>'
            + "".join(
                f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" ContentType='
                '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
                'worksheet+xml"/>'
                for i in range(len(names))
            )
            + "</Types>",
        )
        zf.writestr(
            part("_rels/.rels"),
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{pkg}">'
            f'<Relationship Id="rId1" Type="{rel}/officeDocument" '
            'Target="xl/workbook.xml"/></Relationships>',
        )
        zf.writestr(
            part("xl/workbook.xml"),
            f'<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="{main}" '
            f'xmlns:r="{rel}"><sheets>'
            + "".join(
                f'<sheet name="{escape(n)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
                for i, n in enumerate(names)
            )
            + "</sheets></workbook>",
        )
        zf.writestr(
            part("xl/_rels/workbook.xml.rels"),
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{pkg}">'
            + "".join(
                f'<Relationship Id="rId{i + 1}" Type="{rel}/worksheet" '
                f'Target="worksheets/sheet{i + 1}.xml"/>'
                for i in range(len(names))
            )
            + "</Relationships>",
        )
        for i, n in enumerate(names):
            rows = "".join(
                f'<row r="{r + 1}">'
                + "".join(cell(f"{col(c)}{r + 1}", v) for c, v in enumerate(row))
                + "</row>"
                for r, row in enumerate(sheets[n])
            )
            zf.writestr(
                part(f"xl/worksheets/sheet{i + 1}.xml"),
                f'<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="{main}">'
                f"<sheetData>{rows}</sheetData></worksheet>",
            )


# ---------------------------------------------------------------------------
# battery pass: TPC-H-ish tables
# ---------------------------------------------------------------------------

_DOC_WORDS = (
    "the a spark data row column table query filter join agg group sort "
    "hash merge scan window stream batch key value order customer part "
    "line vector fast slow big small"
).split()


def battery_tables(seed: int, out_dir: str, scale: float) -> dict[str, int]:
    """Write the ten battery tables as parquet under ``out_dir`` with the
    schemas and value domains the battery's queries expect; ``scale`` 1.0
    is 6,000 lineitem rows. Returns rows per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = np.random.default_rng(seed)
    n_cust = int(150 * scale)
    n_supp = max(10, int(10 * scale))
    n_part = int(200 * scale)
    n_ord = int(1500 * scale)
    n_line = int(6000 * scale)
    n_ev = int(1000 * scale)
    n_doc = int(500 * scale)
    n_vec = int(500 * scale)
    day = np.datetime64("1995-01-01", "us")
    us_per_day = 86_400_000_000

    def dates(n: int, span_days: int) -> np.ndarray:
        return day + g.integers(0, span_days, n) * np.timedelta64(us_per_day, "us")

    def pick(values: list[str], n: int) -> np.ndarray:
        return np.array(values, dtype=object)[g.integers(0, len(values), n)]

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(g.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(g.uniform(-999.99, 9999.99, n_supp), 2),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    pick(["blue", "red", "hot", "cold", "new", "small", "big", "old"], n_part),
                    pick(["anvil", "bolt", "ring", "rod", "plate", "gear", "widget", "nut"], n_part),
                )
            ],
            "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n_part)],
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(g.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": pa.array(dates(n_ord, 2400), pa.timestamp("us")),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(g.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(g.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(g.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(g.integers(1, 8, n_line), pa.int32()),
            "l_quantity": g.integers(1, 51, n_line).astype(float),
            "l_extendedprice": np.round(g.uniform(900, 105000, n_line), 2),
            "l_discount": g.integers(0, 11, n_line) / 100,
            "l_tax": g.integers(0, 9, n_line) / 100,
            "l_returnflag": pick(["A", "N", "R"], n_line),
            "l_linestatus": pick(["F", "O"], n_line),
            "l_shipdate": pa.array(dates(n_line, 2500), pa.timestamp("us")),
        }),
        "events": pa.table({
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(
                np.sort(np.datetime64("2024-01-01", "us")
                        + g.integers(0, 30 * us_per_day, n_ev) * np.timedelta64(1, "us")),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(g.integers(0, max(15, n_ev // 67), n_ev), pa.int64()),
            "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(g.gamma(2.0, 50.0, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in g.integers(0, 100, n_ev)],
        }),
    }
    texts = []
    for i in range(n_doc):
        if i > 10 and g.random() < 0.05:  # exact and near duplicates
            src = texts[int(g.integers(0, len(texts)))]
            texts.append(src if g.random() < 0.5 else src + " " + str(g.choice(_DOC_WORDS)))
        else:
            texts.append(" ".join(g.choice(_DOC_WORDS, int(g.integers(8, 90)))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = g.integers(0, 10, n_vec)
    centers = g.normal(0, 0.15, (10, 64))
    vecs = centers[labels] + g.normal(0, 0.05, (n_vec, 64))
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
