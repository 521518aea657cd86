"""Corpus and oracle preparation for the perfbench workloads.

The conversation pool is written once per checkout by ``write_transcripts``
(5,000-term ontology, ``sentences_range=(2, 6)``, an explicit file count so
the layout does not follow the writing session's parallelism), together with
the oracle's canonical term set for every turn: ``oracle/pyoracle``'s
brute-force scan costs about 14 ms a turn, so it runs once, in a spawn pool no
larger than ``nproc``.

A run's corpus is the ``n`` pool conversations that rank lowest under a hash
of ``(seed, conv_id)``: the same seed gives the same corpus, another seed
another one. Pool file ``i`` contributes to corpus file ``i``, so the layout
stays pinned. The corpus's expected triples follow from the cached term sets,
so a new seed costs a parquet filter, not a Spark job or an oracle pass. Cache
keys hold every input that changes the bytes.

Run as a script it writes the pool in its own process and JVM, so that the
timed process starts equally cold whether or not the cache was warm::

    python3 perfbench/prepare.py --work .perfbench_work --pool-convs 3000
"""

from __future__ import annotations

import argparse
import hashlib
import json
import multiprocessing
import os
import shutil
import sys

N_TERMS = 5000
SENTENCES_RANGE = (2, 6)
NUM_FILES = 8
POOL_SEED = 7
CO_MENTION = "biolink:related_to"
SUBCLASS = "biolink:subclass_of"


def pool_key(pool_convs: int) -> str:
    lo, hi = SENTENCES_RANGE
    return f"p{POOL_SEED}-c{pool_convs}-t{N_TERMS}-r{lo}_{hi}-f{NUM_FILES}"


def pool_dir(work: str, pool_convs: int) -> str:
    return os.path.join(work, "pool", pool_key(pool_convs))


def corpus_dir(work: str, pool_convs: int, seed: int, n_convs: int) -> str:
    return os.path.join(work, "corpus", f"{pool_key(pool_convs)}-s{seed}-n{n_convs}")


def spark_env(root: str, work: str) -> None:
    """Point every file Spark, the JVM and the Python workers write into the
    work directory, and let the workers import the package from ``root``.

    Two of ``get_spark``'s defaults are overridden. Shuffle scratch goes to
    ``SPARK_LOCAL_DIRS`` under the work directory instead of the tmpfs
    scratch under ``/dev/shm``, so the benchmark writes only inside its
    checkout. The driver heap is 2g instead of 12g, so a run cannot grow into
    memory other processes on the machine need; the corpora are a few MB.
    Measured once on 4 cores with a 16,000-conversation corpus, dropping
    both moved ``run_pipeline``'s wall by under 10%: slower on the first
    call in the JVM, faster on the second."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        PYTHONPATH=root + os.pathsep + os.environ.get("PYTHONPATH", ""),
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
    )


# ------------------------------------------------------------------ oracle

_ONTO = None


def _init_worker(n_terms: int) -> None:
    global _ONTO
    from kg_obo_spark.datagen.ontology import build_ontology

    _ONTO = build_ontology(n_terms=n_terms)


def _turn_terms(rows: list) -> list:
    """[(conv_id, turn_idx, sorted canonical ids)] for turns with a mention."""
    from kg_obo_spark.oracle.pyoracle import oracle_canonical_map, oracle_mentions

    canon = oracle_canonical_map(_ONTO)
    out = []
    for conv_id, turn_idx, text in rows:
        ids = {canon.get(m[3], m[3]) for m in oracle_mentions(text or "", _ONTO)}
        if ids:
            out.append((conv_id, int(turn_idx), sorted(ids)))
    return out


def oracle_turn_terms(rows: list, n_terms: int = N_TERMS) -> list:
    """Oracle term sets of ``rows`` [(conv_id, turn_idx, text)], over a spawn
    pool of at most ``nproc`` workers."""
    if not rows:
        return []
    procs = min(os.cpu_count() or 1, max(1, len(rows) // 50))
    chunks = [rows[i::procs * 4] for i in range(procs * 4)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(procs, initializer=_init_worker, initargs=(n_terms,)) as pool:
        parts = pool.map(_turn_terms, chunks)
    return [t for part in parts for t in part]


def triples_from_turn_terms(turn_terms: list, onto) -> set:
    """The oracle's triple set from per-turn term sets: the same composition
    as ``pyoracle.oracle_triples`` (pairs within a turn, plus is_a between
    mentioned terms). The benchmark's tests pin the two equal."""
    triples = set()
    mentioned = set()
    for _c, _t, ids in turn_terms:
        mentioned.update(ids)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                triples.add((a, CO_MENTION, b))
    for child, parent in onto.is_a:
        if child in mentioned and parent in mentioned:
            triples.add((child, SUBCLASS, parent))
    return triples


def digest(triples) -> str:
    h = hashlib.sha256()
    for t in sorted(triples):
        h.update(("\t".join(t) + "\n").encode())
    return h.hexdigest()


def expected(turn_terms: list) -> dict:
    from kg_obo_spark.datagen.ontology import build_ontology

    triples = triples_from_turn_terms(turn_terms, build_ontology(n_terms=N_TERMS))
    nodes = {i for _c, _t, ids in turn_terms for i in ids}
    return {"triples": len(triples), "nodes": len(nodes), "digest": digest(triples)}


def _write_json(path: str, obj) -> None:
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f)
    os.rename(path + ".tmp", path)


# ------------------------------------------------------------------ corpus


def read_rows(data_dir: str) -> list:
    import pyarrow.parquet as pq

    tab = pq.read_table(data_dir, columns=["conv_id", "turn_idx", "text"])
    return list(zip(*(tab.column(c).to_pylist() for c in tab.column_names)))


def parquet_files(data_dir: str) -> list[str]:
    return sorted(f for f in os.listdir(data_dir) if f.endswith(".parquet"))


def write_pool(root: str, work: str, pool_convs: int) -> str:
    """Write the conversation pool and its per-turn oracle unless cached."""
    pdir = pool_dir(work, pool_convs)
    if os.path.exists(os.path.join(pdir, "turn_terms.json")):
        return pdir
    spark_env(root, work)
    from kg_obo_spark.datagen.ontology import build_ontology
    from kg_obo_spark.datagen.transcripts import write_transcripts
    from kg_obo_spark.session import get_spark

    tmp = pdir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    spark = get_spark(app_name="perfbench_prepare")
    try:
        write_transcripts(
            spark, os.path.join(tmp, "ascii"), n_convs=pool_convs, seed=POOL_SEED,
            num_files=NUM_FILES, ontology=build_ontology(n_terms=N_TERMS),
            sentences_range=SENTENCES_RANGE,
        )
    finally:
        spark.stop()
    _write_json(os.path.join(tmp, "turn_terms.json"),
                oracle_turn_terms(read_rows(os.path.join(tmp, "ascii"))))
    shutil.rmtree(pdir, ignore_errors=True)
    os.rename(tmp, pdir)
    return pdir


def _rank(seed: int, conv_id: str) -> bytes:
    return hashlib.blake2b(f"{seed}\x00{conv_id}".encode(), digest_size=8).digest()


def write_corpus(work: str, pool_convs: int, seed: int, n_convs: int) -> str:
    """The seed's corpus (``ascii/`` plus ``oracle.json``) unless cached."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    cdir = corpus_dir(work, pool_convs, seed, n_convs)
    if os.path.exists(os.path.join(cdir, "oracle.json")):
        return cdir
    pdir = pool_dir(work, pool_convs)
    src = os.path.join(pdir, "ascii")
    convs = set(pq.read_table(src, columns=["conv_id"]).column(0).to_pylist())
    chosen = set(sorted(convs, key=lambda c: _rank(seed, c))[:n_convs])
    tmp = cdir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "ascii"))
    keep = pa.array(sorted(chosen))
    for name in parquet_files(src):
        tab = pq.read_table(os.path.join(src, name))
        pq.write_table(tab.filter(pc.is_in(tab.column("conv_id"), keep)),
                       os.path.join(tmp, "ascii", name))
    with open(os.path.join(pdir, "turn_terms.json")) as f:
        terms = [t for t in json.load(f) if t[0] in chosen]
    _write_json(os.path.join(tmp, "turn_terms.json"), terms)
    _write_json(os.path.join(tmp, "oracle.json"), expected(terms))
    shutil.rmtree(cdir, ignore_errors=True)
    os.rename(tmp, cdir)
    return cdir


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--root", default=os.getcwd(), help="checkout holding kg_obo_spark/")
    p.add_argument("--work", required=True)
    p.add_argument("--pool-convs", type=int, required=True)
    args = p.parse_args(argv)
    root = os.path.abspath(args.root)
    sys.path.insert(0, root)
    write_pool(root, os.path.abspath(args.work), args.pool_convs)
    return 0


if __name__ == "__main__":
    sys.exit(main())
