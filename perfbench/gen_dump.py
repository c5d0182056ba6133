"""Seeded synthetic Wikidata JSON dump for the ``import`` workload.

Writes ONE ``.json.gz`` in the published dump framing (a JSON array with one
entity per line, each line but the last ending in a comma) and returns the
row counts the importer must produce, derived from what was written:

* multi-language labels, descriptions and aliases (some non-ASCII, some with
  quotes and commas that exercise the CSV/COPY dialect);
* claims whose datavalues are entity ids, times, quantities, globe
  coordinates, monolingual texts and strings, plus somevalue/novalue snaks,
  all three ranks, qualifiers and references;
* sitelinks with and without badges, and a few property entities;
* 5% stale revisions (an older ``lastrevid`` of an id that also appears in
  its latest form) and 0.1% corrupt (truncated) lines, at least one.

The same (seed, entities) always gives byte-identical output; ``cached_dump``
keeps one file per pair so generation is paid once, at set-up.

    python3 perfbench/gen_dump.py --seed 1 --entities 20000 --out /tmp/d.json.gz
"""

from __future__ import annotations

import argparse
import gzip
import json
import os
import random

LANGS = ["en", "de", "fr", "es", "it", "nl", "pl", "ru", "ja", "zh", "pt", "sv"]
SITES = ["enwiki", "dewiki", "frwiki", "eswiki", "jawiki", "commonswiki"]
WORDS = [
    "river", "north", "castle", "saint", "old", "new", "lake", "village",
    "museum", "station", "mount", "bridge", "school", "church", "park",
    "valley", "Straße", "château", "Москва", "東京", "北京", "São",
]
# property -> datavalue kind of its main snak
MAIN_PROPS = {
    "P31": "entity", "P279": "entity", "P17": "entity", "P131": "entity",
    "P50": "entity", "P569": "time", "P571": "time", "P1082": "quantity",
    "P2048": "quantity", "P625": "coordinate", "P1476": "monolingualtext",
    "P856": "string", "P214": "string",
}
QUALIFIER_PROPS = {"P580": "time", "P582": "time", "P642": "entity"}
CLASS_IDS = [5, 515, 6256, 3624078, 486972, 11424, 7397, 571, 16521, 4167836]

# The importer's five default tables.
TABLES = ("wd_labels", "wd_claims", "wd_qualifiers", "wd_sitelinks", "wd_edges")


def _text(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n_words))


def _datavalue(rng: random.Random, kind: str, n_items: int) -> dict:
    if kind == "entity":
        q = rng.choice(CLASS_IDS) if rng.random() < 0.3 else rng.randint(1, n_items)
        return {
            "value": {"entity-type": "item", "numeric-id": q, "id": f"Q{q}"},
            "type": "wikibase-entityid",
        }
    if kind == "time":
        y, m, d = rng.randint(1000, 2024), rng.randint(1, 12), rng.randint(1, 28)
        return {
            "value": {
                "time": f"+{y:04d}-{m:02d}-{d:02d}T00:00:00Z", "timezone": 0,
                "before": 0, "after": 0, "precision": rng.choice([9, 10, 11]),
                "calendarmodel": "http://www.wikidata.org/entity/Q1985727",
            },
            "type": "time",
        }
    if kind == "quantity":
        return {
            "value": {"amount": f"+{rng.randint(0, 10**7)}", "unit": "1"},
            "type": "quantity",
        }
    if kind == "coordinate":
        return {
            "value": {
                "latitude": round(rng.uniform(-90, 90), 4),
                "longitude": round(rng.uniform(-180, 180), 4),
                "altitude": None, "precision": 0.0001,
                "globe": "http://www.wikidata.org/entity/Q2",
            },
            "type": "globecoordinate",
        }
    if kind == "monolingualtext":
        return {
            "value": {"text": _text(rng, 3), "language": rng.choice(LANGS)},
            "type": "monolingualtext",
        }
    return {"value": f"https://example.org/{rng.randint(0, 10**9)}", "type": "string"}


def _snak(rng: random.Random, prop: str, kind: str, n_items: int) -> dict:
    r = rng.random()
    if r < 0.03:
        return {"snaktype": "somevalue", "property": prop}
    if r < 0.06:
        return {"snaktype": "novalue", "property": prop}
    return {
        "snaktype": "value", "property": prop,
        "datavalue": _datavalue(rng, kind, n_items),
    }


def _statement(rng: random.Random, eid: str, prop: str, n_items: int) -> dict:
    r = rng.random()
    st = {
        "mainsnak": _snak(rng, prop, MAIN_PROPS[prop], n_items),
        "type": "statement",
        "id": f"{eid}${rng.getrandbits(64):016x}",
        "rank": "normal" if r < 0.85 else ("preferred" if r < 0.95 else "deprecated"),
    }
    if rng.random() < 0.25:
        qprops = rng.sample(sorted(QUALIFIER_PROPS), rng.randint(1, 2))
        st["qualifiers"] = {
            q: [_snak(rng, q, QUALIFIER_PROPS[q], n_items) for _ in range(rng.randint(1, 2))]
            for q in qprops
        }
    if rng.random() < 0.3:
        st["references"] = [
            {
                "hash": f"{rng.getrandbits(64):016x}",
                "snaks": {
                    "P248": [_snak(rng, "P248", "entity", n_items)],
                    "P813": [_snak(rng, "P813", "time", n_items)],
                },
            }
            for _ in range(rng.randint(1, 2))
        ]
    return st


def _label(rng: random.Random, eid: str) -> str:
    r = rng.random()
    if r < 0.02:
        return f'{_text(rng, 2)}, "{eid}"'  # CSV quoting and separators
    return f"{_text(rng, rng.randint(1, 3))} {eid}"


def _entity(rng: random.Random, eid: str, rev: int, n_items: int) -> dict:
    is_item = eid.startswith("Q")
    langs = rng.sample(LANGS, rng.randint(1, 6))
    ent = {
        "type": "item" if is_item else "property",
        "id": eid,
        "lastrevid": rev,
        "labels": {lg: {"language": lg, "value": _label(rng, eid)} for lg in langs},
        "descriptions": {
            lg: {"language": lg, "value": _text(rng, 4)}
            for lg in langs[: rng.randint(0, 3)]
        },
        "aliases": {
            lg: [{"language": lg, "value": _text(rng, 2)} for _ in range(rng.randint(1, 3))]
            for lg in (langs[:2] if rng.random() < 0.3 else [])
        },
        "claims": {
            p: [_statement(rng, eid, p, n_items) for _ in range(rng.randint(1, 3))]
            for p in rng.sample(sorted(MAIN_PROPS), rng.randint(1, 6))
        },
    }
    if is_item:
        ent["sitelinks"] = {
            s: {
                "site": s, "title": _label(rng, eid),
                "badges": ["Q17437796"] if rng.random() < 0.1 else [],
            }
            for s in rng.sample(SITES, rng.randint(0, 4))
        }
    else:
        ent["datatype"] = "wikibase-item"
    return ent


def _row_counts(ent: dict) -> dict[str, int]:
    stmts = [st for sts in ent["claims"].values() for st in sts]
    return {
        "wd_labels": len(ent["labels"]),
        "wd_claims": len(stmts),
        "wd_qualifiers": sum(
            len(snaks) for st in stmts for snaks in st.get("qualifiers", {}).values()
        ),
        "wd_sitelinks": len(ent.get("sitelinks", {})),
        "wd_edges": sum(
            st["mainsnak"].get("datavalue", {}).get("type") == "wikibase-entityid"
            for st in stmts
        ),
    }


def write_dump(path: str, seed: int, n_entities: int) -> dict:
    """Write the dump to ``path``; return the expected import outcome:
    ``{"tables": {table: rows}, "lines_in": .., "entities_out": ..,
    "bad_lines": ..}``."""
    rng = random.Random(seed)
    n_props = max(1, n_entities // 50)
    n_items = n_entities - n_props
    ids = [f"Q{i}" for i in range(1, n_items + 1)] + [f"P{i}" for i in range(1, n_props + 1)]
    stale = set(rng.sample(range(len(ids)), round(0.05 * len(ids))))
    bad = set(rng.sample(range(len(ids)), max(1, round(0.001 * len(ids)))))
    expected = dict.fromkeys(TABLES, 0)
    lines: list[str] = []
    for i, eid in enumerate(ids):
        rev = rng.randint(10**6, 10**9)
        ent = _entity(rng, eid, rev, n_items)
        latest = json.dumps(ent, ensure_ascii=False, separators=(",", ":"))
        for t, n in _row_counts(ent).items():
            expected[t] += n
        group = [latest]
        if i in stale:
            old = _entity(rng, eid, rev - rng.randint(1, 10**5), n_items)
            group.insert(rng.randint(0, 1), json.dumps(old, ensure_ascii=False, separators=(",", ":")))
        if i in bad:
            group.append(latest[: rng.randint(1, len(latest) - 1)])
        lines.extend(group)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as gz:
        gz.write(b"[\n")
        gz.write(",\n".join(lines).encode("utf-8"))
        gz.write(b"\n]\n")
    os.replace(tmp, path)
    return {
        "tables": expected,
        "lines_in": len(lines) + 2,
        "entities_out": len(ids),
        "bad_lines": len(bad),
    }


def cached_dump(cache_dir: str, seed: int, n_entities: int) -> tuple[str, dict]:
    """Return (dump path, expected outcome), generating on first use."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"dump-s{seed}-n{n_entities}.json.gz")
    meta = path + ".expected.json"
    if os.path.exists(path) and os.path.exists(meta):
        with open(meta) as fh:
            return path, json.load(fh)
    expected = write_dump(path, seed, n_entities)
    with open(meta + ".tmp", "w") as fh:
        json.dump(expected, fh)
    os.replace(meta + ".tmp", meta)
    return path, expected


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--entities", type=int, required=True)
    ap.add_argument("--out", required=True, help="output .json.gz path")
    args = ap.parse_args()
    print(json.dumps(write_dump(args.out, args.seed, args.entities)))


if __name__ == "__main__":
    main()
