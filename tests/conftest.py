"""Shared Spark session + synthetic social-graph fixtures (FIXTURES.md
family A). Deterministic (seed=7), tiny, built in-memory."""

from __future__ import annotations

import random
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from social_link_prediction_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def raw_bindings(spark):
    """Flattened SPARQL bindings (FIXTURES.md A1): valid rows plus the
    malformed cases every cleaning operator must handle."""
    rows = [
        # (person uri, person label, rel, object uri, object label, sub p, sub o)
        ("http://www.wikidata.org/entity/Q1", "Alice Smith", "spouse",
         "http://www.wikidata.org/entity/Q2", "Bob\tJones", "human", "human"),
        # reverse duplicate of the edge above (D5 must collapse)
        ("http://www.wikidata.org/entity/Q2", "Bob Jones", "spouse",
         "http://www.wikidata.org/entity/Q1", "Alice Smith", "human", "human"),
        # exact duplicate triple (D3 must collapse)
        ("http://www.wikidata.org/entity/Q1", "Alice Smith", "spouse",
         "http://www.wikidata.org/entity/Q2", "Bob Jones", "human", "human"),
        ("http://www.wikidata.org/entity/Q1", "Alice Smith", "educated_at",
         "http://www.wikidata.org/entity/Q10", "Some University", "human", "educational_institution"),
        ("http://www.wikidata.org/entity/Q3", "Sơn Tùng M-TP", "influenced_by",
         "http://www.wikidata.org/entity/Q1", "Alice Smith", "human", "human"),
        # malformed person URI (P5 drops)
        ("not-a-uri", "Junk", "spouse",
         "http://www.wikidata.org/entity/Q5", "Whatever", "human", "human"),
        # unresolved label (P6 drops)
        ("http://www.wikidata.org/entity/Q6", "Q6", "spouse",
         "http://www.wikidata.org/entity/Q7", "Grace Hopper", "human", "human"),
        # empty person (P7 drops)
        ("", "Empty", "spouse",
         "http://www.wikidata.org/entity/Q8", "X", "human", "human"),
    ]
    data = [
        {
            "person.value": p, "personLabel.value": pl,
            "relationshipLabel.value": r,
            "object.value": o, "objectLabel.value": ol,
            "personSubType.value": sp, "objectSubType.value": so,
            "person.type": "uri", "personLabel.xml:lang": "en",
        }
        for p, pl, r, o, ol, sp, so in rows
    ]
    return spark.createDataFrame(data)


@pytest.fixture(scope="session")
def social_graph(spark):
    """vertices/edges with two components, a hub, humans and non-humans
    (FIXTURES.md A2/A3 shape, miniature)."""
    v = spark.createDataFrame(
        [
            ("Q1", "Alice", "human", 1950),
            ("Q2", "Bob", "human", 1952),
            ("Q3", "Carol", "human", 1990),
            ("Q4", "Dave", "human", 1991),
            ("Q5", "Eve", "human", 1993),
            ("U1", "Uni", "educational_institution", None),
            ("W1", "Fest", "event", None),
            # second component
            ("Q8", "Zoe", "human", 2000),
            ("Q9", "Yan", "human", 2001),
        ],
        ["id", "name", "type", "birth_year"],
    )
    e = spark.createDataFrame(
        [
            ("Q1", "Q2", "spouse"),
            ("Q2", "Q3", "sibling"),
            ("Q3", "Q4", "spouse"),
            ("Q4", "Q5", "sibling"),
            ("Q1", "U1", "educated_at"),
            ("Q3", "U1", "educated_at"),
            ("Q5", "W1", "award_received"),
            ("Q1", "Q5", "influenced_by"),  # blacklisted shortcut
            ("Q8", "Q9", "spouse"),
        ],
        ["src", "dst", "rel"],
    )
    return v, e


@pytest.fixture(scope="session")
def documents_df(spark):
    random.seed(7)
    vocab = "alpha beta gamma delta epsilon zeta eta theta".split()
    rows = []
    for i in range(30):
        toks = [vocab[random.randrange(len(vocab))] for _ in range(20)]
        rows.append((i, " ".join(toks)))
    # plant near-dups: 100 = shuffle of 0; 101 = copy of 1; 102 = one-token edit of 2
    base0 = rows[0][1].split()
    random.shuffle(base0)
    rows.append((100, " ".join(base0)))
    rows.append((101, rows[1][1]))
    t2 = rows[2][1].split()
    t2[0] = "omega"
    rows.append((102, " ".join(t2)))
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.fixture
def cached_rdd_ids(spark):
    """Callable returning the ids of the session's cached RDDs. Local
    checkpoints are left out: they also register as persistent RDDs,
    and a returned frame may legitimately still read them."""

    def ids() -> set[int]:
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        return {k for k in rdds.keys() if not rdds[k].rdd().isLocallyCheckpointed()}

    return ids
