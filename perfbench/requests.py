"""Seeded read-request generator for the `interactive` stream.

A seed fixes one request per template over the reference service's read
calls (SPARQL SELECT/ASK, BM25 search with a second page, S3 listings and
backlinks). Parameters are Zipf-skewed draws (popular documents, people,
groups, words and folders). A round sends each request as often as its
template's weight: the cheap lookups a service mostly serves come up two
or three times, the heavy ones once. Each client runs the round from its
own offset. The same seed always gives byte-identical files.

pool.tsv:   id<TAB>kind<TAB>arg...   (one request per line)
stream.tsv: client<TAB>id            (one round of each client's order)
"""
import os
import random

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "agg key query scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
FLAGS = ["A", "N", "R"]
AUTHOR = "http://schema.org/author"
CLIENTS = 4
N_DOCS = 5000  # documents in the generated tables


def zipf(r: random.Random, n: int, s: float = 1.1) -> int:
    """A Zipf-skewed draw from range(n): small values are popular."""
    return r.choices(range(n), weights=[1.0 / (k + 1) ** s for k in range(n)])[0]


def _caller(r: random.Random) -> str:
    return "anonymous" if r.random() < 0.5 else f"member:grp-{zipf(r, 10)}"


def _key(r: random.Random, prefix: str) -> str:
    return f"{prefix}o{zipf(r, 500)}.bin"


# one generator per named request template; each returns (kind, args)
TEMPLATES = [
    ("bgp", lambda r, n: ("select", [
        f'SELECT ?s ?name WHERE {{ ?s a schema:{r.choice(["Dataset", "File"])} . '
        f'?s schema:name ?name . ?s schema:inLanguage "{LANGS[zipf(r, len(LANGS))]}" }} '
        f'ORDER BY ?s LIMIT 50'])),
    ("filter", lambda r, n: ("select", [
        f'SELECT ?s ?size WHERE {{ ?s schema:contentSize ?size . '
        f'FILTER(?size > {r.randrange(50, 560)}) }} ORDER BY DESC(?size * 1) ?s LIMIT 10'])),
    ("optional", lambda r, n: ("select", [  # point lookup
        f'SELECT ?s ?name ?kw WHERE {{ ?s schema:identifier "{zipf(r, n)}" ; '
        f'schema:name ?name . OPTIONAL {{ ?s schema:keywords ?kw }} }}'])),
    ("path", lambda r, n: ("select", [
        f'SELECT ?x WHERE {{ <person:{zipf(r, 20)}> schema:knows{{1,3}} ?x }} ORDER BY ?x'])),
    ("seqpath", lambda r, n: ("select", [
        f'SELECT ?friend WHERE {{ <doc:{zipf(r, n)}> schema:author/schema:knows ?friend }}'])),
    ("scoped", lambda r, n: ("scoped", [_caller(r),
        f'SELECT ?s ?name WHERE {{ ?s a schema:Dataset . ?s schema:name ?name . '
        f'FILTER(STRSTARTS(?name, "src{zipf(r, 20)}-")) }} ORDER BY ?s'])),
    ("ask", lambda r, n: ("ask", [
        f'ASK {{ ?s schema:identifier "{zipf(r, n)}" . ?s schema:keywords ?k }}'])),
    ("search", lambda r, n: ("search", [" ".join(WORDS[zipf(r, len(WORDS))] for _ in range(2)), "25"])),
    ("listing", lambda r, n: _listing(r)),
    ("versions", lambda r, n: _versions(r)),
    ("backlinks", lambda r, n: ("backlinks", [AUTHOR, f"person:{zipf(r, 20)}", _caller(r)])),
]


# how often a round sends each template's request; the rest once
WEIGHTS = {"bgp": 2, "optional": 3, "seqpath": 2, "ask": 3, "versions": 2, "backlinks": 2}


def _listing(r: random.Random):
    """A folder page: its common prefixes, after a start-after folder or from the top."""
    flag = FLAGS[zipf(r, len(FLAGS))]
    after = f"data/{flag}/f{zipf(r, 40)}/" if r.random() < 0.5 else ""
    return "list_v2", [f"bkt-{zipf(r, 4)}", f"data/{flag}/", after]


def _versions(r: random.Random):
    prefix = f"data/{FLAGS[zipf(r, len(FLAGS))]}/f{zipf(r, 40)}/"
    marker = _key(r, prefix) if r.random() < 0.5 else ""
    return "list_versions", [f"bkt-{zipf(r, 4)}", prefix, marker]


def generate(seed: int):
    """Returns (pool lines, stream lines) for `seed`.

    The pool holds one request per template; the stream is one round of
    each client's order, the same for every seed; the seed decides the
    parameters."""
    r = random.Random(seed)
    pool = []
    for t, (name, template) in enumerate(TEMPLATES):
        kind, args = template(r, N_DOCS)
        pool.append((f"{name}{t:02d}", kind, args))
    # a template's repeats are spread over the round, one per sweep
    weight = [WEIGHTS.get(name, 1) for name, _ in TEMPLATES]
    round_ = [q[0] for k in range(max(weight)) for q, w in zip(pool, weight) if w > k]
    stream = [f"{c}\t{round_[(c * len(round_) // CLIENTS + i) % len(round_)]}"
              for c in range(CLIENTS) for i in range(len(round_))]
    pool_lines = ["\t".join([qid, kind] + args) for qid, kind, args in pool]
    return pool_lines, stream


def write(out_dir: str, seed: int) -> None:
    pool, stream = generate(seed)
    with open(os.path.join(out_dir, "pool.tsv"), "w") as f:
        f.write("\n".join(pool) + "\n")
    with open(os.path.join(out_dir, "stream.tsv"), "w") as f:
        f.write("\n".join(stream) + "\n")
