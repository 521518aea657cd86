"""Deterministic synthetic mini-ontology (the broadcast "term dictionary").

Semantics mirrored from the reference (cited for parity, not ported):

- CURIE prefix <-> IRI prefix maps including lowercased variants, analog of the
  converters built at /root/reference/kg_obo/transform.py:751-763 and the reverse
  prefix map /root/reference/kg_obo/prefixes.py:6-21.
- Node categories start as ``biolink:OntologyClass`` so the category-rewrite stage
  (transform.py:642-644) has something to rewrite.
- ``is_a`` edges become KGX ``biolink:subclass_of`` / ``rdfs:subClassOf`` rows,
  matching bfo_kgx_tsv_edges.tsv:2.
- The ID-update map (old malformed id -> normalized CURIE) is the analog of
  ``update_id_maps.tsv`` written by examine_owl_names
  (/root/reference/kg_obo/robot_utils.py:260,327-331).

Everything is seeded and pure-Python: the dictionary is a small dimension that is
broadcast to executors; it is never a distributed table in the hot path.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

PREFIXES = ["BFO", "CHEBI", "GO", "PATO", "ENVO", "MONDO"]

# IRI prefix map, analog of OBO purl layout. Lowercase variants are added the way
# transform.py:760-761 adds lowercased converter records.
IRI_PREFIX = {p: f"http://purl.obolibrary.org/obo/{p}_" for p in PREFIXES}

_ADJ = [
    "spatial", "temporal", "material", "cellular", "molecular", "chemical",
    "biological", "environmental", "structural", "functional", "generic",
    "dependent", "independent", "continuant", "occurrent", "quality",
    "aggregate", "fiat", "immaterial", "relational", "maximal", "causal",
]
_NOUN = [
    "entity", "region", "object", "process", "boundary", "disposition",
    "function", "role", "site", "part", "aggregate", "unity", "gradient",
    "membrane", "compound", "pathway", "receptor", "enzyme", "tissue",
    "organism", "population", "instant",
]


@dataclass
class Ontology:
    """In-memory mini-ontology; rows() views are plain lists of dicts."""

    terms: list[dict] = field(default_factory=list)  # id, iri, name, synonyms, category, prefix
    is_a: list[tuple[str, str]] = field(default_factory=list)  # (child, parent)
    xrefs: list[tuple[str, str]] = field(default_factory=list)  # equivalent ids (merge in canonicalization)
    id_update_map: dict[str, str] = field(default_factory=dict)  # old malformed id -> new CURIE
    version: str = "2026-08-01"
    name: str = "synth"

    @property
    def knowledge_source(self) -> str:
        # "{NAME} {version}" per transform.py:1133-1135
        return f"{self.name} {self.version}"

    def surface_index(self) -> list[tuple[str, str, float]]:
        """(surface, term_id, base_score) for the matcher; labels score 1.0,
        synonyms 0.9 (exact-case match adds nothing; case-insensitive hit is
        scored down by the extractor)."""
        out = []
        for t in self.terms:
            out.append((t["name"], t["id"], 1.0))
            for s in t["synonyms"]:
                out.append((s, t["id"], 0.9))
        return out


def _label(rng: random.Random, used: set[str]) -> str:
    for n_adj in (1, 2, 3):  # widen when 2-word space exhausts (big dictionaries)
        for _ in range(40):
            words = [rng.choice(_ADJ) for _ in range(n_adj)] + [rng.choice(_NOUN)]
            lbl = " ".join(words)
            if lbl not in used:
                used.add(lbl)
                return lbl
    raise RuntimeError("label space exhausted")


def build_ontology(n_terms: int = 240, seed: int = 7) -> Ontology:
    rng = random.Random(seed)
    onto = Ontology()
    used: set[str] = set()
    per_prefix = n_terms // len(PREFIXES)
    for prefix in PREFIXES:
        roots: list[str] = []
        for i in range(per_prefix):
            num = f"{i + 1:07d}"
            tid = f"{prefix}:{num}"
            name = _label(rng, used)
            syns = []
            # synonym variants: abbreviation, plural, hyphenated
            if rng.random() < 0.6:
                syns.append("".join(w[0] for w in name.split()) + num[-3:])
            if rng.random() < 0.5:
                syns.append(name + "s")
            if rng.random() < 0.3:
                syns.append(name.replace(" ", "-"))
            onto.terms.append(
                {
                    "id": tid,
                    "iri": IRI_PREFIX[prefix] + num,
                    "name": name,
                    "synonyms": syns,
                    # rewritten to biolink:NamedThing by materialize (P4)
                    "category": "biolink:OntologyClass",
                    "prefix": prefix,
                }
            )
            if i < 3:
                roots.append(tid)
            else:
                parent = rng.choice(roots if rng.random() < 0.3 else [f"{prefix}:{rng.randint(1, i):07d}"])
                onto.is_a.append((tid, parent))
    # cross-prefix equivalences (exercise canonicalization merge / CC)
    ids = [t["id"] for t in onto.terms]
    for _ in range(n_terms // 20):
        a, b = rng.sample(ids, 2)
        onto.xrefs.append((min(a, b), max(a, b)))
    # malformed-id update map: OBO:-prefixed, lowercased prefix, raw IRI,
    # ".OWL"-embedded — the shapes handled by robot_utils.py:287-311
    for t in rng.sample(onto.terms, n_terms // 6):
        tid = t["id"]
        prefix, num = tid.split(":")
        style = rng.randint(0, 3)
        if style == 0:
            old = f"OBO:{prefix}_{num}"
        elif style == 1:
            old = f"{prefix.lower()}:{num}"
        elif style == 2:
            old = t["iri"]
        else:
            old = f"OBO:{prefix.lower()}.OWL#{prefix}_{num}"
        onto.id_update_map[old] = tid
    return onto
