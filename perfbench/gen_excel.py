"""Seeded generator for the excel-roundtrip workload's input workbooks.

Builds two quarter workbooks for the Compare flow and one template for the
Upload flow, as plain OOXML packages written with `zipfile`, so the
program's own xlsx writer plays no part in making its reader's inputs.

The quarter pair follows the Compare row cases: unchanged rows, one changed
cell, one cleared cell, keys only in the new quarter, keys only in the old
quarter (ignored), duplicate keys in the old quarter (the last one wins) and
blank keys (skipped). `plant()` returns the exact status counts the compare
must produce for the chosen compare columns.
"""

import random
import zipfile
from xml.sax.saxutils import escape

HEADERS = [
    "Region", "OB Main ID", "Project Name", "Ministry", "Sector", "Budget",
    "Start Date", "Status", "Estimated Cost", "Contractor", "City", "Phase",
    "Risk", "Owner", "Scope Notes", "Completion %", "Stage",
    "Funding Source", "Progress Notes", "Issues", "Last Updated", "Comments",
]
KEY = "OB Main ID"
# sheet letters I, O, P, Q, R, S, T; O, S and T also get word diffs
COMPARE = ["Estimated Cost", "Scope Notes", "Completion %", "Stage",
           "Funding Source", "Progress Notes", "Issues"]
WORD_DIFF = ["Scope Notes", "Progress Notes", "Issues"]
# Pipelines.SegmentOrder: the five customer segments Download and Upload use
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]

WORDS = ("site crew budget review steel phase delay permit design audit "
         "tender roof pipe road grant survey report plan shift cost scope "
         "safety load slab drain cable risk vendor change order").split()
MINISTRIES = ["EDU", "MAG", "MCCSS", "MECP", "MLTC", "MNR", "MOH", "MOI",
              "MTO-H", "MTO-T", "SOLGEN"]
STAGES = ["Planning", "Design", "Procurement", "Construction", "Closeout"]
FUNDS = ["Provincial", "Federal", "Municipal", "Private", "Mixed"]


def _sentence(rng, n=None):
    return " ".join(rng.choice(WORDS) for _ in range(n or rng.randint(6, 12)))


def _row(rng, key):
    return {
        "Region": rng.choice(["North", "South", "East", "West", "Central"]),
        "OB Main ID": key,
        "Project Name": "Project " + _sentence(rng, 3),
        "Ministry": rng.choice(MINISTRIES),
        "Sector": rng.choice(["Health", "Transit", "Education", "Justice"]),
        "Budget": rng.randint(10_000, 90_000_000),
        "Start Date": "20%02d-%02d-%02d" % (rng.randint(10, 29),
                                            rng.randint(1, 12),
                                            rng.randint(1, 28)),
        "Status": rng.choice(["Active", "On Hold", "Complete"]),
        "Estimated Cost": rng.randint(1_000, 50_000_000),
        "Contractor": "Contractor %d" % rng.randint(1, 400),
        "City": rng.choice(["Toronto", "Ottawa", "Sudbury", "Windsor"]),
        "Phase": rng.randint(1, 6),
        "Risk": rng.choice(["Low", "Medium", "High"]),
        "Owner": "Owner %d" % rng.randint(1, 900),
        "Scope Notes": _sentence(rng),
        "Completion %": rng.randint(0, 100),
        "Stage": rng.choice(STAGES),
        "Funding Source": rng.choice(FUNDS),
        "Progress Notes": _sentence(rng),
        "Issues": _sentence(rng),
        "Last Updated": "2024-%02d-%02d" % (rng.randint(1, 12),
                                            rng.randint(1, 28)),
        "Comments": _sentence(rng, 4),
    }


def _mutate_text(rng, old):
    """A different sentence: one word changed, words appended, words
    removed, or a full rewrite."""
    toks = old.split()
    kind = rng.randrange(4)
    if kind == 0:
        i = rng.randrange(len(toks))
        toks[i] = toks[i] + "x"
    elif kind == 1:
        toks += [rng.choice(WORDS) for _ in range(rng.randint(1, 3))]
    elif kind == 2:
        toks = toks[:rng.randint(1, len(toks) - 1)]
    else:
        toks = ["rewritten"] + [rng.choice(WORDS) for _ in range(5)]
    return " ".join(toks)


def _changed(rng, col, old):
    if col in WORD_DIFF:
        return _mutate_text(rng, old)
    if col == "Stage":
        return rng.choice([s for s in STAGES if s != old])
    if col == "Funding Source":
        return rng.choice([f for f in FUNDS if f != old])
    return old + rng.randint(1, 1000)


def plant(seed, rows=10000, changed=450, cleared=300, new=250, deleted=200,
          duplicates=150, blank_keys=60):
    """Quarter pair for `seed`: (q1 rows, q2 rows, expected counts,
    planted row counts). The expected counts are the diff's statuses
    ("status") and the highlighted cells per status ("marks").

    Every Q2 row with a non-blank key yields one diff row per compare
    column, so UNCHANGED is whatever the planted cells leave over.
    """
    rng = random.Random(seed)
    keys = ["OB-%06d" % k for k in rng.sample(range(100000, 999999),
                                               rows + new)]
    base_keys, new_keys = keys[:rows], keys[rows:]
    base = [_row(rng, k) for k in base_keys]
    order = list(range(rows))
    rng.shuffle(order)
    cut = iter(order)
    deleted_ix = {next(cut) for _ in range(deleted)}
    changed_ix = {next(cut) for _ in range(changed)}
    cleared_ix = {next(cut) for _ in range(cleared)}
    dup_ix = {next(cut) for _ in range(duplicates)}

    q1 = []
    for i, r in enumerate(base):
        if i in dup_ix:
            # an earlier row under the same key with different compare
            # values: keep-last must ignore it
            stale = dict(r)
            for c in COMPARE:
                stale[c] = _changed(rng, c, r[c])
            q1.append(stale)
        q1.append(r)
    q2 = []
    for i, r in enumerate(base):
        if i in deleted_ix:
            continue
        r2 = dict(r)
        if i in changed_ix:
            c = rng.choice(COMPARE)
            r2[c] = _changed(rng, c, r[c])
        elif i in cleared_ix:
            r2[rng.choice(COMPARE)] = None
        q2.append(r2)
    q2 += [_row(rng, k) for k in new_keys]
    for q in (q1, q2):
        for _ in range(blank_keys):
            blank = _row(rng, None)
            q.insert(rng.randrange(len(q) + 1), blank)
    rng.shuffle(q2)

    present = rows - deleted
    expected = {
        "status": {
            "NEW": new * len(COMPARE),
            "CHANGED": changed,
            "CLEARED": cleared,
            "UNCHANGED": present * len(COMPARE) - changed - cleared,
        },
        # what the highlighted copy must show: a NEW row is filled across
        # every column
        "marks": {"CHANGED": changed, "CLEARED": cleared,
                  "NEW": new * len(HEADERS)},
    }
    planted = {"rows_q1": len(q1), "rows_q2": len(q2),
               "duplicates": duplicates, "blank_keys": blank_keys,
               "deleted": deleted}
    return q1, q2, expected, planted


def _col_letter(n):
    s = ""
    while n:
        n, r = divmod(n - 1, 26)
        s = chr(65 + r) + s
    return s


_STYLES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
    '<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>'
    '<fills count="2"><fill><patternFill patternType="none"/></fill>'
    '<fill><patternFill patternType="gray125"/></fill></fills>'
    '<borders count="1"><border><left/><right/><top/><bottom/><diagonal/>'
    '</border></borders>'
    '<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" '
    'borderId="0"/></cellStyleXfs>'
    '<cellXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0" '
    'xfId="0"/></cellXfs>'
    '</styleSheet>')


def write_xlsx(path, cells_by_row, sheet="Sheet1"):
    """Write one sheet and return how many cells it holds. `cells_by_row`
    maps a 1-based row number to a list of (1-based column, value); strings
    go to the shared-string table, ints are numeric cells, None and "" are
    left out."""
    shared, index = [], {}
    rows_xml = []
    n_cells = 0
    for r in sorted(cells_by_row):
        cells = []
        for c, v in cells_by_row[r]:
            if v is None or v == "":
                continue
            ref = "%s%d" % (_col_letter(c), r)
            if isinstance(v, int):
                cells.append('<c r="%s"><v>%d</v></c>' % (ref, v))
            else:
                i = index.get(v)
                if i is None:
                    i = index[v] = len(shared)
                    shared.append(v)
                cells.append('<c r="%s" t="s"><v>%d</v></c>' % (ref, i))
        rows_xml.append('<row r="%d">%s</row>' % (r, "".join(cells)))
        n_cells += len(cells)
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rel_ns = ('xmlns:r="http://schemas.openxmlformats.org/officeDocument/'
              '2006/relationships"')
    hdr = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    parts = {
        "[Content_Types].xml": hdr +
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
        '<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>'
        '</Types>',
        "_rels/.rels": hdr +
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        '</Relationships>',
        "xl/workbook.xml": hdr + '<workbook %s %s><sheets><sheet name="%s" '
        'sheetId="1" r:id="rId1"/></sheets></workbook>'
        % (ns, rel_ns, escape(sheet, {'"': "&quot;"})),
        "xl/_rels/workbook.xml.rels": hdr +
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
        '<Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>'
        '</Relationships>',
        "xl/worksheets/sheet1.xml": hdr + '<worksheet %s><sheetData>%s'
        '</sheetData></worksheet>' % (ns, "".join(rows_xml)),
        "xl/sharedStrings.xml": hdr + '<sst %s count="%d" uniqueCount="%d">%s'
        '</sst>' % (ns, len(shared), len(shared),
                    "".join('<si><t xml:space="preserve">%s</t></si>'
                            % escape(s) for s in shared)),
        "xl/styles.xml": _STYLES,
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in parts.items():
            z.writestr(name, body)
    return n_cells


def write_quarter(path, rows):
    table = {1: list(enumerate(HEADERS, 1))}
    for r, row in enumerate(rows, 2):
        table[r] = [(c, row[h]) for c, h in enumerate(HEADERS, 1)]
    return write_xlsx(path, table)


# Upload template: header row 5, data from row 6; two headers match no
# customer column and c_nationkey has no header (intersection-only write)
TEMPLATE_HEADERS = ["C Custkey", "C_Name", "c mktsegment", "C_ACCTBAL",
                    "Phone", "Notes"]


def write_template(path, seed):
    headers = list(TEMPLATE_HEADERS)
    random.Random(seed).shuffle(headers)
    write_xlsx(path, {1: [(1, "SOC Template")],
                      5: list(enumerate(headers, 1))})
    return headers


def generate(out_dir, seed, **sizes):
    """Write q1.xlsx, q2.xlsx and template.xlsx under `out_dir`; return the
    paths and the planted counts."""
    q1, q2, expected, planted = plant(seed, **sizes)
    paths = {n: "%s/%s.xlsx" % (out_dir, n) for n in ("q1", "q2", "template")}
    cells = write_quarter(paths["q1"], q1) + write_quarter(paths["q2"], q2)
    write_template(paths["template"], seed)
    return {"paths": paths, "expected": expected, "planted": planted,
            "cells": cells}
