"""Deterministic, release-shaped UMLS corpus for the export benchmark.

Writes pipe-delimited ``.RRF`` files (each line ends in ``|``) for every
table the export reads, one ``umls.conf`` manifest per workload, and
``facts.json`` with the planted per-SAB facts the correctness gate checks.

Every value is a pure function of (seed, row index), in the manner of
``ScaleStressAssembly.plantCorpus``: a (seed, big, tail) triple always
writes the same bytes, and row and class counts depend on the sizes alone
up to the seeded drop draws. A different seed changes identifiers, labels
and which atoms are dropped.

Shape: one SNOMEDCT-shaped SAB with ``big`` atoms and a hot code holding
1% of its atoms and MRSAT rows; then ``tail`` atoms over MSH (50%; ``D...``
codes, CHD tree, MN tree numbers), MEDLINEPLUS (30%; exported
``load_on_cuis``) and CCS (20%; no MRRANK rows, so its prefLabels come
from the single-``P``-TTY rule, and codes holding ``:``, percent-encoded
in IRIs). Planted drop paths: non-ENG, suppressed and empty-CODE atoms;
unresolved, self-map and suppressed relations; SRC ``V-<sab>`` root
atoms; MRRANK ties (PT and FN share a rank, so the first atom in AUI
order wins).

Usage: python3 corpus.py <outDir> <seed> <bigAtoms> <tailAtoms>
"""

import json
import os
import sys

VERSION = "2025AA"
BIG_SAB = "SNOMEDCT_US"
M64 = (1 << 64) - 1

# (sab, share of the tail's atoms (None: the big SAB), atoms per code,
#  code format, load_on_cuis, ranked)
SPECS = [
    (BIG_SAB, None, 5, lambda gc: str(100000 + gc * 13), False, True),
    ("MSH", 0.50, 4, lambda gc: "D%06d" % gc, False, True),
    ("MEDLINEPLUS", 0.30, 3, lambda gc: "MP%d" % gc, True, True),
    ("CCS", 0.20, 2, lambda gc: "CCS:%d" % gc, False, False),
]

TYPES = [
    ("T071", "A", "Entity"), ("T072", "A1", "Physical Object"),
    ("T001", "A1.1", "Organism"), ("T017", "A1.2", "Anatomical Structure"),
    ("T023", "A1.2.3.1", "Body Part, Organ, or Organ Component"),
    ("T167", "A1.4", "Substance"),
    ("T121", "A1.4.1.1.1", "Pharmacologic Substance"),
    ("T077", "A2", "Conceptual Entity"), ("T051", "B", "Event"),
    ("T052", "B1", "Activity"), ("T046", "B2.2.1.2", "Pathologic Function"),
    ("T047", "B2.2.1.2.1", "Disease or Syndrome"),
]
ATNS = ["SIZE", "COLOR", "ACTIVE", "EFFECTIVE_TIME", "MODIFIER",
        "CASE_SIGNIFICANCE_ID"]
RELAS = ["has_finding_site", "part_of", "", "associated_with"]
RELS = ["RO", "RB", "RN", "PAR", "RO"]
RANKS = {"PT": 400, "FN": 400, "SY": 300}
DROP_REASONS = ("lat", "suppressed", "empty_code")


def mix(seed, tag, x):
    """SplitMix64 finaliser over (seed, tag, x)."""
    z = (seed * 0x9E3779B97F4A7C15 + tag * 0xD1B54A32D192ED03 + x) & M64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & M64
    return z ^ (z >> 31)


def word(seed, tag, x):
    n = mix(seed, tag, x) % 2176782336  # 36**6
    out = ""
    while True:
        n, r = divmod(n, 36)
        out = "0123456789abcdefghijklmnopqrstuvwxyz"[r] + out
        if n == 0:
            return out


class Sab:
    """Atom layout of one SAB: ``hot`` atoms in code 0, then ``per_code``
    atoms per code; ``a_base``/``c_base`` are global atom/code offsets."""

    def __init__(self, idx, spec, big, tail, a_base, c_base):
        self.idx = idx
        (self.name, share, self.per_code, self.code_fmt, self.on_cuis,
         self.ranked) = spec
        self.n = max(self.per_code * 8,
                     big if share is None else round(tail * share))
        self.hot = max(4, self.n // 100)  # >= 4: positions 1-3 plant drops
        self.n_codes = 1 + -(-(self.n - self.hot) // self.per_code)
        self.a_base, self.c_base = a_base, c_base

    def local(self, c, pos):
        return pos if c == 0 else self.hot + (c - 1) * self.per_code + pos

    def code_pos(self, i):
        if i < self.hot:
            return 0, i
        return 1 + (i - self.hot) // self.per_code, (i - self.hot) % self.per_code

    def size_of(self, c):
        if c == 0:
            return self.hot
        return min(self.per_code, self.n - self.local(c, 0))

    def code(self, c):
        return self.code_fmt(self.c_base + c)

    def cui(self, c, pos):
        gc = self.c_base + c
        return "C%07d" % (gc * 2 if self.on_cuis else gc * 2 + pos % 2)


def generate(out_dir, seed, big, tail):
    """Write the corpus for ``seed`` under ``out_dir``, with ``big`` atoms
    in the big SAB and ``tail`` atoms over the others; return facts."""
    os.makedirs(out_dir, exist_ok=True)
    sabs, a_base, c_base = [], 0, 0
    for i, spec in enumerate(SPECS):
        s = Sab(i, spec, big, tail, a_base, c_base)
        sabs.append(s)
        a_base += s.n
        c_base += s.n_codes
    total_atoms, total_codes = a_base, c_base
    seed_off = (seed * 104729 + 7) % 10**8

    def aui(g):
        return "A%08d" % ((g * 7919 + seed_off) % 10**8)

    def root_cui(s):
        return "C9%06d" % s.idx

    def root_aui(s):
        return aui(total_atoms + s.idx)

    files = {}

    def open_rrf(name):
        f = open(os.path.join(out_dir, name + ".RRF"), "w", encoding="utf-8",
                 newline="\n")
        files[name] = f
        return f

    def row(f, *fields):
        f.write("|".join(fields))
        f.write("|\n")

    conso, rel, mdef, sat = (open_rrf(n) for n in
                             ("MRCONSO", "MRREL", "MRDEF", "MRSAT"))
    facts = {}
    for s in sabs:
        dropped = dict.fromkeys(DROP_REASONS, 0)
        kept_keys = set()
        sample_cs = sorted({0, 1, 2, 5, s.n_codes - 1})
        sample_atoms = {c: [] for c in sample_cs}
        # MRCONSO atoms and one MRSAT row per atom
        for i in range(s.n):
            c, pos = s.code_pos(i)
            g = s.a_base + i
            hd = mix(seed, 1, g) % 1000
            if c == 0 and pos in (1, 2, 3):  # every SAB plants every path
                hd = (0, 50, 100)[pos - 1]
            if pos == 0:
                drop = None
            elif hd < 40:
                drop = "lat"
            elif hd < 90:
                drop = "suppressed"
            elif hd < 130 and not s.on_cuis:
                drop = "empty_code"
            else:
                drop = None
            code, cui = s.code(c), s.cui(c, pos)
            tty = "PT" if pos == 0 else ("FN" if pos == 1 and c % 4 == 1
                                         else "SY")
            hs = mix(seed, 2, g) % 100
            label = "%s %s %s %s%s%s" % (
                word(seed, 3, g).capitalize(), word(seed, 4, g),
                s.name.lower(), code, " %d" % pos if pos else "",
                ' "quoted"' if hs == 0 else (" café" if hs == 1 else ""))
            a = aui(g)
            row(conso, cui, "SPA" if drop == "lat" else "ENG",
                "P" if pos == 0 else "S", "L%07d" % g,
                "PF" if pos == 0 else "VO", "S%07d" % g,
                "Y" if pos == 0 else "N", a, "",
                code if s.name == BIG_SAB else "", "", s.name, tty,
                "" if drop == "empty_code" else code, label, "0",
                "O" if drop == "suppressed" else "N", "")
            row(sat, cui, "", "", "", "CODE", code, "AT%d" % g, "",
                ATNS[g % 6], s.name, "v%d" % (mix(seed, 5, g) % 40), "N", "")
            if drop:
                dropped[drop] += 1
            else:
                kept_keys.add(cui if s.on_cuis else code)
            if c in sample_atoms and not drop:
                sample_atoms[c].append((a, cui, tty, pos, label))

        # MRREL: per code c >= 1 a CHD to its parent code c // 3 (the SRC
        # root atom for c < 3), a typed relation to the next code, and the
        # planted drop paths; the hot code is the source of one relation
        # per hot atom.
        others = s.n_codes - 1

        def rrow(kind, k, src_c, src_pos, tgt_cui, tgt_aui, r, rela, sup="N"):
            row(rel, tgt_cui, tgt_aui, "AUI", r, s.cui(src_c, src_pos),
                aui(s.a_base + s.local(src_c, src_pos)), "AUI", rela,
                "R%s-%s-%d" % (s.name, kind, k), "", s.name, s.name, "", "",
                sup, "")

        def pos0(c):
            return s.cui(c, 0), aui(s.a_base + s.local(c, 0))

        for c in range(1, s.n_codes):
            p = c // 3
            tc, ta = pos0(p) if p >= 1 else (root_cui(s), root_aui(s))
            rrow("chd", c, c, 0, tc, ta, "CHD", "")
            t = c % others + 1
            rrow("typed", c, c, 0, *pos0(t), RELS[c % 5], RELAS[c % 4])
            if c % 10 == 1:
                rrow("unresolved", c, c, 0, "C9999999",
                     aui(total_atoms + 1000 + s.c_base + c), "RO", "part_of")
            if c % 12 == 2 and c < others and s.per_code >= 2:
                rrow("self", c, c, 0, s.cui(c, 1),
                     aui(s.a_base + s.local(c, 1)), "RO", "associated_with")
            if c % 15 == 3:
                rrow("suppressed", c, c, 0, *pos0(t), "RO", "part_of", "O")
        for j in range(s.hot):
            rrow("hot", j, 0, j, *pos0(j % others + 1), "RO",
                 "has_finding_site")

        # MRDEF (a second definition sometimes sits on a dropped atom),
        # AQ attributes (never rendered) and MSH MN tree numbers.
        for c in range(s.n_codes):
            gc = s.c_base + c
            defs = [0] if c % 3 == 0 else []
            if c % 9 == 0 and c < others and s.size_of(c) >= 2:
                defs.append(1)
            for p in defs:
                row(mdef, s.cui(c, p), aui(s.a_base + s.local(c, p)),
                    "AT%s%d%d" % (s.name, c, p), "", s.name,
                    "Definition of %s %d (%d)" % (word(seed, 6, gc), c, p),
                    "N", "")
            if c % 7 == 0:
                row(sat, s.cui(c, 0), "", "", "", "CODE", s.code(c),
                    "Q%d" % gc, "", "AQ", s.name, "AA", "N", "")
            if s.name == "MSH":
                tree = "C%02d" % c if c < 3 else "C01.%d" % c
                row(sat, s.cui(c, 0), "", "", "", "CODE", s.code(c),
                    "M%d" % gc, "", "MN", s.name, tree, "N", "")

        facts[s.name] = {
            "mrconso_rows": s.n,
            "atoms_kept": s.n - sum(dropped.values()),
            "dropped": dropped,
            "terms": len(kept_keys),
            "errors": 0,
            "load_on_cuis": s.on_cuis,
            "hot_code": s.cui(0, 0) if s.on_cuis else s.code(0),
            "samples": {
                (s.cui(c, 0) if s.on_cuis else s.code(c)):
                    pref_label(s, sample_atoms[c])
                for c in sample_cs},
        }

    for s in sabs:
        row(conso, root_cui(s), "ENG", "P", "", "PF", "", "Y", root_aui(s),
            "", "", "", "SRC", "RPT", "V-" + s.name, s.name + " root", "0",
            "N", "")

    with open_rrf("MRSTY") as f:
        for n in range(total_codes * 2):
            tuis = {TYPES[mix(seed, 7, n) % len(TYPES)]}
            if n % 5 == 0:
                tuis.add(TYPES[mix(seed, 8, n) % len(TYPES)])
            for tui, stn, sty in sorted(tuis):
                row(f, "C%07d" % n, tui, stn, sty, "AT%d" % n, "")
    with open_rrf("MRRANK") as f:
        for s in sabs:
            if s.ranked:
                for tty, rank in RANKS.items():
                    row(f, "%04d" % rank, s.name, tty, "N")
    with open_rrf("MRSAB") as f:
        names = [s.name for s in sabs] + ["SRC"]
        rows = [(n, VERSION, "Y") for n in names] + [(BIG_SAB, "2024AB", "N")]
        for n, ver, cur in rows:
            row(f, "C8%06d" % names.index(n), "", "%s_%s" % (n, ver), n,
                "Synthetic " + n, n, ver, "", "", ver, "", "", "", "0", "0",
                "0", "", "PT,FN,SY", "", "ENG", "UTF-8", cur, "Y",
                n + " synthetic", "")
    with open_rrf("MRDOC") as f:
        preds = ([("RELA", v) for v in RELAS if v]
                 + [("REL", v) for v in ("RO", "RB", "RN")]
                 + [("ATN", v) for v in ATNS + ["MN"]])
        for key, v in preds:
            expl = v.lower().replace("_", " ")
            row(f, key, v, "expanded_form", expl)
            if key != "ATN":
                row(f, key, v, key.lower() + "_inverse", "inverse of " + expl)
        row(f, "TTY", "PT", "expanded_form", "Designated preferred name")
    for f in files.values():
        f.close()

    def conf_line(s):
        return "%s,%s.ttl,%s\n" % (
            s.name, s.name, "load_on_cuis" if s.on_cuis else "load_on_codes")
    one_big = [s for s in sabs if s.name == BIG_SAB]
    tail_sabs = [s for s in sabs if s.name != BIG_SAB]
    with open(os.path.join(out_dir, "one_big.conf"), "w") as f:
        f.writelines(conf_line(s) for s in one_big)
    with open(os.path.join(out_dir, "sweep.conf"), "w") as f:
        f.write("# the long tail: every SAB but the big one\n")
        f.writelines(conf_line(s) for s in tail_sabs)
    doc = {"seed": seed, "big_atoms": big, "tail_atoms": tail,
           "version": VERSION,
           "manifests": {"one_big": [s.name for s in one_big],
                         "sweep": [s.name for s in tail_sabs]},
           "sabs": facts}
    with open(os.path.join(out_dir, "facts.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    return doc


def pref_label(s, atoms):
    """The prefLabel the reference picks among a class's kept atoms
    (canonical order: AUI, then CUI)."""
    atoms = sorted(atoms)
    if s.on_cuis:  # A8: the single ISPREF=Y atom (position 0) wins
        return atoms[0][4] if len(atoms) == 1 else \
            next(a[4] for a in atoms if a[3] == 0)
    if s.ranked:  # A7: highest MRRANK, ties to the first atom
        best = max(RANKS[a[2]] for a in atoms)
        return next(a[4] for a in atoms if RANKS[a[2]] == best)
    p = [a for a in atoms if "P" in a[2]]  # A9: exactly one P-TTY atom
    assert len(p) == 1, "planted A9 rule broken"
    return p[0][4]


if __name__ == "__main__":
    if len(sys.argv) != 5:
        sys.exit("usage: corpus.py <outDir> <seed> <bigAtoms> <tailAtoms>")
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]),
             int(sys.argv[4]))
