#!/usr/bin/env python3
"""Seeded input generators for the benchmark, each with a ground-truth
manifest.

  fs_scan    a directory tree on disk (sparse files, hardlink groups,
             symlinks, one excluded subtree), a mutation cycle (three
             rounds, then one that undoes them), and for every state of
             the tree the entry counts, bytes, per-expression stats and
             find listing, plus the ChangeSummary each round must give.
  corpus     documents / orders / lineitem tables in the schemas of the
             engine's sf tables.

The same seed always gives the same inputs and the same manifest hash:
`python3 perfbench/gen.py --selftest` checks that, and that another seed
gives another hash.
"""
import hashlib
import json
import os
import random
import sys

SIZES = {
    # entries in the generated tree (dirs + files + symlinks)
    "fs_scan_entries": 6000,
    # corpus table sizes
    "corpus_orders": 3000,
    "corpus_docs": 400,
}

EXCLUDE_NAME = "cache-excluded"
ROUNDS = 3
# fs_scan: the expression stats, find and the reports use, and find's root
SCAN_EXPR = "type=d || name=*.log"
FIND_SUB = "d1"


def manifest_hash(manifest):
    return hashlib.sha256(
        json.dumps(manifest, sort_keys=True).encode()).hexdigest()


# ---------------------------------------------------------------- fs_scan

class Tree:
    """In-memory model of the generated tree: what the walker must see."""

    def __init__(self):
        self.dirs = {}   # rel dir path -> set of child names
        self.files = {}  # rel file path -> dict(size, link, group)

    def file_stats(self, excluded_prefix):
        """Entry counts and byte totals as the snapshot must show them:
        the excluded subtree is absent, and a hardlink group counts once
        as a file, through its lexicographically least path, and its other
        links as `hardlinks`. The `log_*` figures are the same for the
        files the benchmark expression selects (`name=*.log`)."""
        live = {p: f for p, f in self.files.items()
                if not p.startswith(excluded_prefix)}
        canonical = {}
        for p in sorted(live):
            g = live[p].get("group")
            if g is not None:
                canonical.setdefault(g, p)
        out = {"files": 0, "hardlinks": 0, "bytes": 0,
               "log_files": 0, "log_hardlinks": 0, "log_bytes": 0}
        for p, f in live.items():
            g = f.get("group")
            canon = g is None or canonical[g] == p
            for pre, on in (("", True), ("log_", p.endswith(".log"))):
                if not on:
                    continue
                if canon:
                    out[pre + "files"] += 1
                    out[pre + "bytes"] += f["size"]
                else:
                    out[pre + "hardlinks"] += 1
        out["dirs"] = sum(1 for d in self.dirs
                          if not d.startswith(excluded_prefix))
        out["entries"] = out["dirs"] + out["files"] + out["hardlinks"]
        out["file_bytes"] = out.pop("bytes")
        return out

    def find_paths(self, root, sub):
        """Paths `find` must list under root/sub for `type=d ||
        name=*.log`, in the order it lists them."""
        ds = [d for d in self.dirs if d == sub or d.startswith(sub + "/")]
        fs = [p for p in self.files
              if p.startswith(sub + "/") and p.endswith(".log")]
        return sorted(f"{root}/{p}" for p in ds + fs)


def _scan_layout(seed, n_entries):
    """Plan the tree: returns (Tree, actions) where actions create it."""
    rng = random.Random(seed)
    t = Tree()
    t.dirs[""] = set()
    actions = []
    leafs = []

    def mkdir(rel):
        parent, _, name = rel.rpartition("/")
        t.dirs[parent].add(name)
        t.dirs[rel] = set()
        actions.append(("mkdir", rel))

    def mkfile(rel, size):
        parent, _, name = rel.rpartition("/")
        t.dirs[parent].add(name)
        t.files[rel] = {"size": size}
        actions.append(("file", rel, size))

    def size():
        return max(0, int(rng.lognormvariate(9.0, 2.5)))

    n_top = 6
    for i in range(n_top):
        mkdir(f"d{i}")
    # excluded subtree: present on disk, absent from every snapshot
    ex = f"d0/{EXCLUDE_NAME}"
    mkdir(ex)
    for j in range(120):
        mkfile(f"{ex}/junk{j}.tmp", size())
    # skewed fan-out: a few huge dirs, many small ones (depth 2..4)
    budget = n_entries - n_top
    big = max(3, n_entries // 2500)
    for b in range(big):
        d = f"d{1 + b % (n_top - 1)}/big{b}"
        mkdir(d)
        nf = int(n_entries * 0.08)
        for j in range(nf):
            mkfile(f"{d}/f{j:05d}.dat", size())
        budget -= nf + 1
    k = 0
    while budget > 0:
        top = f"d{rng.randrange(n_top)}"
        mid = f"{top}/m{k}"
        mkdir(mid)
        budget -= 1
        for s in range(rng.randint(1, 4)):
            leaf = f"{mid}/s{s}"
            mkdir(leaf)
            leafs.append(leaf)
            nf = min(budget, rng.randint(1, 12))
            for j in range(nf):
                ext = rng.choice(["log", "txt", "dat", "csv", "bin"])
                mkfile(f"{leaf}/f{j}.{ext}", size())
            budget -= nf + 1
        k += 1
    # hardlink groups: ~1% of leaf files gain 1-2 extra links elsewhere
    plain = [p for p in t.files if not p.startswith(ex) and "/big" not in p]
    rng.shuffle(plain)
    for g, src in enumerate(plain[: max(2, len(plain) // 100)]):
        t.files[src]["group"] = g
        t.files[src]["link"] = "hard-src"
        for extra in range(rng.randint(1, 2)):
            dst_dir = rng.choice(leafs)
            rel = f"{dst_dir}/hl{g}_{extra}"
            t.dirs[dst_dir].add(rel.rpartition("/")[2])
            t.files[rel] = {"size": t.files[src]["size"], "group": g,
                            "link": "hard"}
            actions.append(("hardlink", rel, src))
    # symlinks: lstat size is the target string's length
    for s in range(max(2, n_entries // 200)):
        d = rng.choice(leafs)
        target = f"../../{rng.choice(['x', 'target', 'nowhere/else'])}{s}"
        rel = f"{d}/sym{s}"
        t.dirs[d].add(f"sym{s}")
        t.files[rel] = {"size": len(target.encode()), "link": "sym"}
        actions.append(("symlink", rel, target))
    return t, actions, leafs, rng


def _mutations(t, leafs, rng):
    """Three rounds: add, delete and resize files in ~2% of leaf dirs,
    and add or remove one dir. Hardlinked files and symlinks are never
    touched (changing one link changes its siblings' nlink). Resizes
    only happen in dirs that also gain or lose a file, because a resize
    alone does not change the dir's mtime and the incremental rescan
    reuses files of unchanged dirs."""
    rounds = []
    pool = list(leafs)
    rng.shuffle(pool)
    per_round = max(2, len(leafs) // 50)
    for r in range(ROUNDS):
        touched = pool[r * per_round:(r + 1) * per_round]
        ops = []
        for d in touched:
            plain = sorted(c for c in t.dirs[d]
                           if t.files.get(f"{d}/{c}", {}).get("link") is None
                           and f"{d}/{c}" in t.files)
            for j in range(rng.randint(1, 3)):
                ops.append(("add", f"{d}/new{r}_{j}.log",
                            int(rng.lognormvariate(9.0, 2.0))))
            if plain:
                victim = rng.choice(plain)
                ops.append(("delete", f"{d}/{victim}"))
                plain.remove(victim)
            for victim in plain[:rng.randint(0, 2)]:
                ops.append(("resize", f"{d}/{victim}",
                            int(rng.lognormvariate(10.0, 2.0))))
        if r % 2 == 0:
            parent = rng.choice(pool[-10:]).rpartition("/")[0]
            nd = f"{parent}/added{r}"
            ops.append(("mkdir", nd))
            for j in range(rng.randint(2, 6)):
                ops.append(("add", f"{nd}/a{j}.txt",
                            int(rng.lognormvariate(8.0, 2.0))))
        else:
            # remove a leaf dir holding only plain files
            cands = [d for d in pool[-40:-10]
                     if all(t.files.get(f"{d}/{c}", {}).get("link") is None
                            and f"{d}/{c}" in t.files for c in t.dirs[d])]
            ops.append(("rmdir", sorted(cands)[0]))
        rounds.append(ops)
    return rounds


def _apply_model(t, ops):
    """Apply one round to the model; return (changed dirs, added dirs,
    deleted dirs)."""
    changed, added, deleted = set(), set(), set()
    for op in ops:
        kind, rel = op[0], op[1]
        parent, _, name = rel.rpartition("/")
        if kind == "add":
            t.files[rel] = {"size": op[2]}
            t.dirs[parent].add(name)
            changed.add(parent)
        elif kind == "delete":
            del t.files[rel]
            t.dirs[parent].discard(name)
            changed.add(parent)
        elif kind == "resize":
            t.files[rel]["size"] = op[2]
        elif kind == "mkdir":
            t.dirs[rel] = set()
            t.dirs[parent].add(name)
            changed.add(parent)
            added.add(rel)
        elif kind == "rmdir":
            for c in t.dirs.pop(rel):
                del t.files[f"{rel}/{c}"]
            t.dirs[parent].discard(name)
            changed.add(parent)
            deleted.add(rel)
    changed -= added
    changed &= set(t.dirs)
    return changed, added, deleted


def _undo(t_before, ops):
    """Ops that restore the tree of `t_before` after `ops` ran."""
    undo = []
    for op in reversed(ops):
        kind, rel = op[0], op[1]
        if kind == "add":
            undo.append(("delete", rel))
        elif kind == "delete":
            undo.append(("add", rel, t_before.files[rel]["size"]))
        elif kind == "resize":
            undo.append(("resize", rel, t_before.files[rel]["size"]))
        elif kind == "mkdir":
            undo.append(("rmdir", rel))
        elif kind == "rmdir":
            undo.append(("mkdir", rel))
            for c in sorted(t_before.dirs[rel]):
                undo.append(("add", f"{rel}/{c}",
                             t_before.files[f"{rel}/{c}"]["size"]))
    return undo


def _copy_tree(t):
    c = Tree()
    c.dirs = {k: set(v) for k, v in t.dirs.items()}
    c.files = {k: dict(v) for k, v in t.files.items()}
    return c


def plan_fs_scan(seed, n_entries=None):
    """The tree, the mutation rounds and the manifest, without touching
    disk. Rounds form a cycle: three mutation rounds, then a fourth that
    undoes them, so the tree returns to its first state and the cycle
    can repeat on the same database."""
    n_entries = n_entries or SIZES["fs_scan_entries"]
    t, actions, leafs, rng = _scan_layout(seed, n_entries)
    ex = f"d0/{EXCLUDE_NAME}"
    rounds = _mutations(t, leafs, rng)
    states = [_copy_tree(t)]
    for ops in rounds:
        _apply_model(t, ops)
        states.append(_copy_tree(t))
    rounds.append([op for r in reversed(range(ROUNDS))
                   for op in _undo(states[r], rounds[r])])
    summaries = []
    for i, ops in enumerate(rounds):
        prev, t = states[i], _copy_tree(states[i])
        changed, added, deleted = _apply_model(t, ops)
        live = {d for d in t.dirs if not d.startswith(ex)}
        unchanged = live - changed - added

        def files_under(tree, ds):
            return sum(1 for p in tree.files if not p.startswith(ex)
                       and p.rpartition("/")[0] in ds)
        prev_files = {p for p in prev.files if not p.startswith(ex)}
        cur_files = {p for p in t.files if not p.startswith(ex)}
        summaries.append({
            "prefixes_unchanged": len(unchanged),
            "prefixes_changed": len(changed),
            "prefixes_added": len(added),
            "prefixes_deleted": len(deleted),
            "files_rescanned": files_under(t, changed | added),
            "files_reused": files_under(prev, unchanged),
            "files_deleted": len(prev_files - cur_files),
        })
    assert t.file_stats(ex) == states[0].file_stats(ex), \
        "the undo round must restore the tree"
    manifest = {
        "workload": "fs_scan", "seed": seed,
        "exclude": f"/{EXCLUDE_NAME}$",
        "uid": os.getuid(),
        "stats": [st.file_stats(ex) for st in states],  # before round i
        "summaries": summaries,    # expected ChangeSummary of round i
        "rounds": [[list(op) for op in ops] for ops in rounds],
        "expr": SCAN_EXPR,
    }
    return actions, manifest, states


def build_fs_scan(seed, out_dir, n_entries=None):
    """Create the tree under out_dir/tree; write out_dir/manifest.json."""
    actions, manifest, states = plan_fs_scan(seed, n_entries)
    root = os.path.join(out_dir, "tree")
    os.makedirs(root)
    for a in actions:
        p = os.path.join(root, a[1])
        if a[0] == "mkdir":
            os.mkdir(p)
        elif a[0] == "file":
            with open(p, "wb") as f:
                f.truncate(a[2])  # sparse: realistic size, no disk use
        elif a[0] == "hardlink":
            os.link(os.path.join(root, a[2]), p)
        elif a[0] == "symlink":
            os.symlink(a[2], p)
    manifest["hash"] = manifest_hash(manifest)
    manifest["root"] = os.path.abspath(root)
    manifest["find_root"] = f"{manifest['root']}/{FIND_SUB}"
    manifest["find"] = []
    for state in states:
        paths = state.find_paths(manifest["root"], FIND_SUB)
        manifest["find"].append({
            "count": len(paths),
            "md5": hashlib.md5("\n".join(paths).encode()).hexdigest()})
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


# ----------------------------------------------------------------- corpus

VOCAB = ("the a row key value table part line order customer query data "
         "join merge hash sort scan filter group agg window batch stream "
         "spark column vector small big fast slow checkpoint spill").split()


def build_corpus(seed, out_dir, n_orders=None, n_docs=None):
    """Write documents/orders/lineitem parquet tables to out_dir."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    n_orders = n_orders or SIZES["corpus_orders"]
    n_docs = n_docs or SIZES["corpus_docs"]
    rng = np.random.default_rng(seed)
    n_cust = max(10, n_orders // 10)
    n_part = max(20, n_orders * 2 // 15)
    ts = pa.timestamp("us")
    day = 86400 * 1_000_000
    t0 = 10227 * day  # 1998-01-01
    odate = t0 + rng.integers(0, 4 * 365, n_orders) * day
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(1e3, 5e5, n_orders), 2)),
        "o_orderdate": pa.array(odate, ts),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_orders)),
    })
    per_order = rng.integers(1, 8, n_orders)
    lok = np.repeat(np.arange(n_orders), per_order)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per_order])
    n_li = len(lok)
    qty = rng.integers(1, 51, n_li).astype(float)
    retail = np.round(rng.uniform(900, 2100, n_part), 2)
    lpart = rng.integers(0, n_part, n_li)
    lineitem = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(lpart, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(5, n_part // 20), n_li),
                              pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * retail[lpart], 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
        "l_shipdate": pa.array(odate[lok] + rng.integers(1, 122, n_li) * day,
                               ts),
    })
    # documents: ~5% are near-copies of an earlier doc (a few words
    # replaced), so near-dup and span-dedup find real pairs
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(0, len(words)))] = str(
                    vocab[int(rng.integers(0, len(vocab)))])
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
    langs = rng.choice(["en", "es", "zh", "de", "fr"], n_docs,
                       p=[.44, .14, .15, .14, .13])
    n_src = 20
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % n_src}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    for name, t in [("orders", orders), ("lineitem", lineitem),
                    ("documents", documents)]:
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    manifest = {"workload": "corpus", "seed": seed, "orders": n_orders,
                "lineitem": n_li, "documents": n_docs}
    digest = hashlib.sha256()
    for name in ["orders", "lineitem", "documents"]:
        t = pq.read_table(os.path.join(out_dir, f"{name}.parquet"))
        digest.update(str(t.to_pydict()).encode())
    manifest["hash"] = digest.hexdigest()
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


BUILDERS = {"fs_scan": build_fs_scan, "corpus": build_corpus}


def selftest(tmp):
    """Same seed → same manifest hash; other seed → other hash."""
    import shutil
    ok = True
    small = {"fs_scan": {"n_entries": 800},
             "corpus": {"n_orders": 200, "n_docs": 60}}
    for wl, build in BUILDERS.items():
        hashes = []
        for seed in (1, 1, 2):
            d = os.path.join(tmp, f"selftest-{wl}-{len(hashes)}")
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
            hashes.append(build(seed, d, **small[wl])["hash"])
            shutil.rmtree(d)
        good = hashes[0] == hashes[1] and hashes[0] != hashes[2]
        ok &= good
        print(f"{'PASS' if good else 'FAIL'} {wl}: seed1={hashes[0][:12]} "
              f"seed1'={hashes[1][:12]} seed2={hashes[2][:12]}")
    return ok


if __name__ == "__main__":
    if sys.argv[1:2] == ["--selftest"]:
        here = os.path.dirname(os.path.abspath(__file__))
        tmp = os.path.join(os.path.dirname(here), ".bench_build", "selftest")
        os.makedirs(tmp, exist_ok=True)
        sys.exit(0 if selftest(tmp) else 1)
    print("usage: gen.py --selftest", file=sys.stderr)
    sys.exit(2)
