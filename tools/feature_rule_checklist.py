"""Generate FEATURE_RULES.md — the mechanical completeness checklist
mapping every ``feature.push`` site in the reference's
`udf_js/feature_mapping.sql` (131 sites) to the rule that emits the
same feature template in `taipei_bi_etl_spark/feature_mapping.py`
(VERDICT r01 #6: the randomized dual-transcription test is strong, but
both transcriptions share an author — this artifact makes completeness
checkable line by line).

The push sites are parsed from the reference when it is present, and
read from their committed extraction ``tools/feature_push_sites.json``
when it is not; ``--extract`` rewrites that file from the reference.

Usage: python tools/feature_rule_checklist.py [--write] [--extract]
"""

from __future__ import annotations

import json
import re
import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

JS_PATH = "/root/reference/udf_js/feature_mapping.sql"
SITES_PATH = Path(__file__).resolve().with_name("feature_push_sites.json")

# JS function name → repo vertical name
_JS_VERTICALS = (
    ("do_browser", "Browser"),
    ("do_shopping", "Shopping"),
    ("do_lifestyle", "Lifestyle"),
    ("do_game", "Game"),
    ("do_travel", "Travel"),
)

_PUSH_RE = re.compile(r"feature\.push\((.+)\);")
_CONCAT_RE = re.compile(r"\.concat\(([^)]*)\)")


def _js_template(expr: str) -> str:
    """'lit'.concat(extra_key).concat(': ').concat(extra_value) →
    'lit{extra_key}: {extra_value}'."""
    m = re.match(r"^'([^']*)'", expr)
    out = [m.group(1)]
    for part in _CONCAT_RE.findall(expr):
        part = part.strip()
        if part.startswith("'") and part.endswith("'"):
            out.append(part[1:-1])
        else:
            out.append("{" + part + "}")
    return "".join(out)


def js_push_sites() -> list[tuple[int, str, str]]:
    """(line_no, vertical, template) for every feature.push in the JS:
    from the reference when present, else from the committed extraction."""
    if Path(JS_PATH).exists():
        return reference_push_sites()
    return committed_push_sites()


def committed_push_sites() -> list[tuple[int, str, str]]:
    """The push sites as last extracted from the reference."""
    return [tuple(site) for site in json.loads(SITES_PATH.read_text())]


def write_push_sites(sites: list[tuple[int, str, str]]) -> None:
    """Commit ``sites`` as the extraction, one site per line."""
    body = ",\n".join(json.dumps(list(site)) for site in sites)
    SITES_PATH.write_text("[\n" + body + "\n]\n")


def reference_push_sites() -> list[tuple[int, str, str]]:
    """Parse every feature.push site out of the reference JS."""
    text = Path(JS_PATH).read_text()
    lines = text.split("\n")
    bounds = []
    for fn, vert in _JS_VERTICALS:
        for i, line in enumerate(lines):
            if f"function {fn}()" in line:
                bounds.append((i + 1, vert))
                break
    bounds.sort()

    def vertical_of(lineno: int) -> str:
        out = "?"
        for start, vert in bounds:
            if lineno >= start:
                out = vert
        return out

    sites = []
    for i, line in enumerate(lines, start=1):
        m = _PUSH_RE.search(line)
        if m:
            sites.append((i, vertical_of(i), _js_template(m.group(1))))
    return sites


def build_checklist():
    from taipei_bi_etl_spark.feature_mapping import rule_inventory

    inv = rule_inventory()
    # (vertical, template) → [(rule_idx, item_idx)]
    rule_slots: dict[tuple[str, str], list[tuple[int, int]]] = defaultdict(list)
    for vert, ridx, items in inv:
        for iidx, tmpl in enumerate(items):
            rule_slots[(vert, tmpl)].append((ridx, iidx))

    rows, unmatched_js = [], []
    used: dict[tuple[str, str], int] = defaultdict(int)
    for lineno, vert, tmpl in js_push_sites():
        slots = rule_slots.get((vert, tmpl), [])
        k = used[(vert, tmpl)]
        if k < len(slots):
            ridx, iidx = slots[k]
            used[(vert, tmpl)] += 1
            rows.append((lineno, vert, tmpl, ridx, iidx))
        else:
            unmatched_js.append((lineno, vert, tmpl))
    unmatched_rules = [
        (vert, tmpl, slot)
        for (vert, tmpl), slots in rule_slots.items()
        for slot in slots[used[(vert, tmpl)]:]
    ]
    return rows, unmatched_js, unmatched_rules


def render() -> str:
    rows, unmatched_js, unmatched_rules = build_checklist()
    out = [
        "# FEATURE_RULES — push-site ↔ rule checklist",
        "",
        "Machine-generated by `tools/feature_rule_checklist.py`; regenerate",
        "after editing `taipei_bi_etl_spark/feature_mapping.py`.  Every",
        "`feature.push` site in the reference's",
        "`udf_js/feature_mapping.sql` maps to the rule item emitting the",
        "same template; `tests/test_feature_mapping.py` asserts both",
        "directions are exhaustive.  Without the reference, the sites",
        "come from their committed extraction `tools/feature_push_sites.json`.",
        "",
        f"JS push sites: {len(rows) + len(unmatched_js)} · "
        f"matched: {len(rows)} · unmatched JS: {len(unmatched_js)} · "
        f"unmatched repo items: {len(unmatched_rules)}",
        "",
        "| JS line | Vertical | Feature template | Rule # | Item # |",
        "|---|---|---|---|---|",
    ]
    for lineno, vert, tmpl, ridx, iidx in rows:
        out.append(
            f"| udf_js/feature_mapping.sql:{lineno} | {vert} "
            f"| `{tmpl}` | {ridx} | {iidx} |"
        )
    if unmatched_js:
        out += ["", "## UNMATCHED JS SITES", ""]
        out += [f"- line {l}: {v} `{t}`" for l, v, t in unmatched_js]
    if unmatched_rules:
        out += ["", "## REPO ITEMS WITH NO JS SITE", ""]
        out += [f"- {v} `{t}` rule slot {s}" for v, t, s in unmatched_rules]
    return "\n".join(out) + "\n"


if __name__ == "__main__":
    if "--extract" in sys.argv:
        write_push_sites(reference_push_sites())
        print(f"wrote {SITES_PATH.name}")
    text = render()
    if "--write" in sys.argv:
        Path(__file__).resolve().parent.parent.joinpath(
            "FEATURE_RULES.md"
        ).write_text(text)
        print("wrote FEATURE_RULES.md")
    rows, uj, ur = build_checklist()
    print(f"matched={len(rows)} unmatched_js={len(uj)} unmatched_rules={len(ur)}")
    for x in uj[:10]:
        print("JS-only:", x)
    for x in ur[:10]:
        print("repo-only:", x)
