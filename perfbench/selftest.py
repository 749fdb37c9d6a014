#!/usr/bin/env python3
"""Self-tests of the export benchmark.

    python3 perfbench/selftest.py            # all tests, incl. one real export
    python3 perfbench/selftest.py --no-export

1. The corpus is a function of the seed: the same seed gives the same
   corpus digest, another seed a different one.
2. Planted facts are exact at the smallest size: every RRF line has its
   table's field count and trailing ``|``, and re-counting MRCONSO with the
   export's keep rule (ENG, SUPPRESS = N, non-empty CODE unless
   ``load_on_cuis``) and prefLabel rules reproduces ``facts.json``.
3. The gate fails on an altered output: a Turtle file built to pass the
   gate stops passing after one byte of a prefLabel changes or a class
   is cut off.
4. (unless ``--no-export``) A real export of both manifests at the
   smallest size passes the gate, and fails it once a byte is altered.

Exit status 0 when every test passes.
"""

import argparse
import collections
import os
import shutil
import sys
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import corpus  # noqa: E402
import run  # noqa: E402

SMALLEST = (120, 80)  # atoms of the big SAB, atoms over the others
FIELDS = {"MRCONSO": 18, "MRREL": 16, "MRDEF": 8, "MRSAT": 13, "MRSTY": 6,
          "MRRANK": 4, "MRSAB": 25, "MRDOC": 4}
failures = []


def check(cond, what):
    print("  %s %s" % ("ok  " if cond else "FAIL", what))
    if not cond:
        failures.append(what)


def rrf(path, name):
    with open(os.path.join(path, name + ".RRF"), encoding="utf-8") as f:
        for line in f:
            yield line.rstrip("\n")


def corpus_digest(path):
    return run.tree_digest(path, sorted(
        f for f in os.listdir(path) if f.endswith((".RRF", ".conf"))
        or f == "facts.json"))


def test_determinism(tmp):
    print("corpus determinism")
    digests = []
    for i, seed in enumerate((7, 7, 8)):
        d = os.path.join(tmp, "det%d" % i)
        corpus.generate(d, seed, *SMALLEST)
        digests.append(corpus_digest(d))
    check(digests[0] == digests[1], "same seed, same digest")
    check(digests[0] != digests[2], "other seed, other digest")


def recount(path, facts):
    """Facts re-derived from the RRF files alone."""
    ranks = collections.defaultdict(dict)
    for line in rrf(path, "MRRANK"):
        rank, sab, tty, _ = line.split("|")[:4]
        ranks[sab][tty] = int(rank)
    atoms = collections.defaultdict(list)
    for line in rrf(path, "MRCONSO"):
        f = line.split("|")
        atoms[f[11]].append(f)
    out = {}
    for sab, fact in facts["sabs"].items():
        on_cuis = fact["load_on_cuis"]
        dropped = dict.fromkeys(corpus.DROP_REASONS, 0)
        by_key = collections.defaultdict(list)
        for f in atoms[sab]:
            if f[1].upper() != "ENG":
                dropped["lat"] += 1
            elif f[16] != "N":
                dropped["suppressed"] += 1
            elif not on_cuis and f[13] == "":
                dropped["empty_code"] += 1
            else:
                by_key[f[0] if on_cuis else f[13]].append(f)
        samples = {}
        for key in fact["samples"]:
            kept = sorted(by_key[key], key=lambda f: (f[7], f[0]))
            if on_cuis:
                pref = [f for f in kept if f[6] == "Y"]
                label = (kept if len(kept) == 1 else pref)[0][14]
            elif ranks[sab]:
                best = max(ranks[sab][f[12]] for f in kept)
                label = next(f[14] for f in kept if ranks[sab][f[12]] == best)
            else:
                label = [f for f in kept if "P" in f[12]][0][14]
            samples[key] = label
        out[sab] = {"mrconso_rows": len(atoms[sab]), "dropped": dropped,
                    "atoms_kept": sum(len(v) for v in by_key.values()),
                    "terms": len(by_key), "samples": samples}
    return out


def test_planted_facts(tmp):
    print("planted facts at the smallest size (%d + %d atoms)" % SMALLEST)
    d = os.path.join(tmp, "facts")
    facts = corpus.generate(d, 3, *SMALLEST)
    for name, n in FIELDS.items():
        lines = list(rrf(d, name))
        check(bool(lines) and all(l.endswith("|") and l.count("|") == n
                                  for l in lines),
              "%s: %d lines, %d fields each, trailing |" % (
                  name, len(lines), n))
    again = recount(d, facts)
    for sab, fact in facts["sabs"].items():
        got = again[sab]
        for k in ("mrconso_rows", "atoms_kept", "dropped", "terms", "samples"):
            check(got[k] == fact[k], "%s %s = %s" % (sab, k, fact[k]
                                                     if k != "samples" else
                                                     "%d labels" % len(fact[k])))
        check(all(fact["dropped"][r] > 0 for r in corpus.DROP_REASONS
                  if r != "empty_code" or not fact["load_on_cuis"]),
              "%s plants every atom drop path" % sab)
        rels = [l.split("|") for l in rrf(d, "MRREL")
                if l.split("|")[10] == sab]
        kinds = {f[8].split("-")[-2] for f in rels}
        check({"suppressed", "unresolved", "self", "chd", "hot"} <= kinds and
              any(f[3] == "CHD" and f[0].startswith("C9") for f in rels),
              "%s plants suppressed, unresolved, root and self-map rels" % sab)
    return d, facts


def fake_output(path, sab, fact):
    """A Turtle file with the planted class count and sample prefLabels."""
    ns = run.BASE_URI + sab + "/"
    codes = list(fact["samples"]) + ["filler%d" % i for i in
                                     range(fact["terms"] - len(fact["samples"]))]
    with open(path, "w", encoding="utf-8") as f:
        for code in codes:
            label = fact["samples"].get(code, "x")
            f.write('<%s%s> a owl:Class ;\n\tskos:prefLabel """%s"""@en ;\n'
                    ' .\n\n' % (ns, urllib.parse.quote(code), run.escape(label)))


def alter(path):
    """Change one byte inside the first prefLabel."""
    with open(path, "rb") as f:
        data = bytearray(f.read())
    i = data.index(b'skos:prefLabel """') + len(b'skos:prefLabel """')
    data[i] = ord("#") if data[i] != ord("#") else ord("%")
    with open(path, "wb") as f:
        f.write(data)


def test_gate_rejects(tmp, facts):
    print("gate rejects altered output")
    sab = corpus.BIG_SAB
    fact = facts["sabs"][sab]
    path = os.path.join(tmp, sab + ".ttl")
    report = {"sab": sab, "terms": fact["terms"], "errors": 0}
    fake_output(path, sab, fact)
    problems, sha = run.check_sab(sab, fact, report, path, None)
    check(not problems, "a file with the planted facts passes")
    alter(path)
    problems, _ = run.check_sab(sab, fact, report, path, sha)
    check(any("sha256" in p for p in problems) and
          any("prefLabel" in p for p in problems),
          "one altered byte fails the digest and prefLabel checks")
    fake_output(path, sab, fact)
    with open(path, "rb") as f:
        data = f.read()
    with open(path, "wb") as f:
        f.write(data[:data.rindex(b"<")])
    problems, _ = run.check_sab(sab, fact, report, path, None)
    check(any("classes in file" in p for p in problems),
          "a cut-off class fails the class count")
    problems, _ = run.check_sab(sab, fact, dict(report, errors=1), path, None)
    check(any("errors" in p for p in problems), "a term error fails")


def test_real_export(facts_dir, facts):
    print("real export at the smallest size")
    work = os.path.join(run.ROOT, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    jvm = run.Jvm(work, run.build(work)[0])
    gate = run.Gate(facts_dir, facts)
    for conf in ("one_big", "sweep"):
        out = os.path.join(facts_dir, "out-" + conf)
        _, r = jvm.run("perfbench.ExportRun", [
            facts_dir, os.path.join(facts_dir, conf + ".conf"), out,
            corpus.VERSION])
        gate.check(facts["manifests"][conf], r["reports"], out)
    check(gate.failed == 0, "%d SAB exports pass the gate (%s)" % (
        gate.attempted, "; ".join(gate.problems) or "no problems"))
    out = os.path.join(facts_dir, "out-sweep")
    sab = facts["manifests"]["sweep"][0]
    alter(os.path.join(out, sab + ".ttl"))
    report = {"sab": sab, "terms": facts["sabs"][sab]["terms"], "errors": 0}
    problems, _ = run.check_sab(sab, facts["sabs"][sab], report,
                                os.path.join(out, sab + ".ttl"),
                                gate.digests[sab])
    check(bool(problems), "the altered %s output fails: %s" % (
        sab, "; ".join(problems)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--no-export", action="store_true")
    args = ap.parse_args()
    tmp = os.path.join(run.ROOT, ".bench_build", "perfbench-selftest")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        test_determinism(tmp)
        facts_dir, facts = test_planted_facts(tmp)
        test_gate_rejects(tmp, facts)
        if not args.no_export:
            test_real_export(facts_dir, facts)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("%d failed" % len(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
