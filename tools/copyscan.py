#!/usr/bin/env python3
"""Local replica of the driver's copy detector (>60% similarity between a
repo source file and a reference file), with a --selftest that proves the
detector CAN flag (r10 drill rotation: LEAKCHECK and COPYCHECK had only
ever seen clean trees, so "flagged: []" had never been negatively
tested).

Scan mode: every repo .scala/.py source vs every reference text file,
difflib SequenceMatcher on whitespace-normalized lines with the
real_quick_ratio -> quick_ratio -> ratio cascade (the cheap upper bounds
prune ~all of the n*m pairs before any quadratic ratio runs). Writes
COPYCHECK_LOCAL.json with the same shape as the driver's record.

Dev-only; the library never depends on this.
"""
import difflib, json, os, subprocess, sys, datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REF = "/root/reference"
THRESHOLD = 0.6
SKIP_DIRS = {".git", "target", ".bloop", ".metals", ".bsp",
             "spark-warehouse", "metastore_db", "data", "docu"}
REPO_EXTS = (".scala", ".py")
REF_EXTS = (".py", ".sql", ".sh", ".md", ".yaml", ".yml", ".properties",
            ".java", ".scala")


def norm_lines(path):
    try:
        text = open(path, encoding="utf-8", errors="replace").read()
    except OSError:
        return []
    return [ln.strip() for ln in text.splitlines() if ln.strip()]


def walk(root, exts):
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d not in SKIP_DIRS]
        for fn in filenames:
            if fn.endswith(exts):
                yield os.path.join(dirpath, fn)


def similarity(a_lines, b_lines):
    sm = difflib.SequenceMatcher(a=a_lines, b=b_lines, autojunk=False)
    if sm.real_quick_ratio() < THRESHOLD:
        return 0.0
    if sm.quick_ratio() < THRESHOLD:
        return 0.0
    return sm.ratio()


def scan(repo_root, ref_root):
    refs = [(p, norm_lines(p)) for p in walk(ref_root, REF_EXTS)]
    refs = [(p, ls) for p, ls in refs if len(ls) >= 20]
    flagged = []
    n_repo = 0
    for rp in walk(repo_root, REPO_EXTS):
        rl = norm_lines(rp)
        if len(rl) < 20:
            continue
        n_repo += 1
        for fp, fl in refs:
            r = similarity(rl, fl)
            if r > THRESHOLD:
                flagged.append({
                    "repo_file": os.path.relpath(rp, repo_root),
                    "ref_file": os.path.relpath(fp, ref_root),
                    "similarity": round(r, 3)})
    return n_repo, len(refs), flagged


def selftest():
    """Plant a >60%-similar near-copy of a reference file in a temp tree
    (keep 4 of every 5 lines, rename a token) next to a genuinely
    original file; require the detector to flag exactly the copy. The
    reference is generated here (100 lines of ETL-shaped Python), so the
    selftest needs no reference checkout."""
    import tempfile
    lines = []
    for i in range(20):
        lines += [f"def transform_{i}(df, spark):",
                  f'    """Join table_{i} onto its parent by key_{i}."""',
                  f"    left = spark.read.parquet('table_{i}')",
                  f"    out = df.join(left, on='key_{i}', how='left')",
                  f"    return out.select('id', 'key_{i}', 'value_{i}')"]
    near_copy = [ln.replace("def ", "def copied_") for i, ln in
                 enumerate(lines) if i % 5 != 4]
    original = ["object Original {"] + [
        f"  val metric_{i} = {i} * {i} + {i % 7}" for i in range(120)
    ] + ["}"]
    with tempfile.TemporaryDirectory() as td:
        ref, repo = os.path.join(td, "reference"), os.path.join(td, "repo")
        os.makedirs(ref)
        os.makedirs(repo)
        with open(os.path.join(ref, "transformer.py"), "w") as f:
            f.write("\n".join(lines))
        with open(os.path.join(repo, "planted_copy.py"), "w") as f:
            f.write("\n".join(near_copy))
        with open(os.path.join(repo, "original.scala"), "w") as f:
            f.write("\n".join(original))
        n_repo, n_ref, flagged = scan(repo, ref)
        assert n_repo == 2, f"expected 2 staged files, saw {n_repo}"
        assert n_ref == 1, f"expected 1 reference file, saw {n_ref}"
        copy_hits = [f for f in flagged if f["repo_file"] == "planted_copy.py"]
        orig_hits = [f for f in flagged if f["repo_file"] == "original.scala"]
        assert copy_hits, (
            f"planted 80%-line copy of the reference was NOT flagged "
            f"(threshold {THRESHOLD})")
        assert not orig_hits, f"original file falsely flagged: {orig_hits}"
    best = max(f["similarity"] for f in copy_hits)
    print(f"selftest OK: planted copy flagged at similarity {best} "
          f"(> {THRESHOLD}); the original file stays clean")
    return 0


def main():
    n_repo, n_ref, flagged = scan(ROOT, REF)
    head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                          capture_output=True, text=True).stdout.strip()
    record = {
        "scanned_at": datetime.datetime.now(datetime.timezone.utc)
            .strftime("%Y-%m-%dT%H:%M:%SZ"),
        "git_head": head,
        "repo_files": n_repo,
        "ref_files": n_ref,
        "threshold": THRESHOLD,
        "flagged": flagged,
    }
    out = os.path.join(ROOT, "COPYCHECK_LOCAL.json")
    json.dump(record, open(out, "w"), indent=1)
    print(f"{n_repo} repo files vs {n_ref} reference files, "
          f"{len(flagged)} flagged -> {out}")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(selftest() if "--selftest" in sys.argv else main())
