from pathlib import Path

import pytest


@pytest.fixture(scope="session")
def spark():
    from ldtab_clj_spark.session import get_spark
    s = get_spark("ldtab-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


REF_OWL = Path("/root/reference/resources/ontology.owl")


@pytest.fixture(params=[
    pytest.param(Path(__file__).parent / "fixtures" / "roundtrip_ontology.owl",
                 id="fixture"),
    pytest.param(REF_OWL, id="reference", marks=pytest.mark.skipif(
        not REF_OWL.exists(), reason="reference not mounted")),
])
def owl_path(request):
    """OWL ontologies for the round-trip tests: the in-repo fixture
    always runs; the reference's own ontology.owl only where the
    reference checkout is mounted."""
    return request.param
