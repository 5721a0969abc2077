"""RDF namespace URI constants of the WarSampo casualty domain.

These are public vocabulary identifiers (reference src/namespaces.py:8-30
declares the same public ldf.fi namespaces); here they are plain strings
used to mint subject/predicate/object values in the triples DataFrame.
"""

CRM = "http://www.cidoc-crm.org/cidoc-crm/"
DCT = "http://purl.org/dc/terms/"
FOAF = "http://xmlns.com/foaf/0.1/"
SKOS = "http://www.w3.org/2004/02/skos/core#"
BIOC = "http://ldf.fi/schema/bioc/"
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"

DATA_CAS = "http://ldf.fi/warsa/casualties/"
SCHEMA_CAS = "http://ldf.fi/schema/warsa/casualties/"
SCHEMA_WARSA = "http://ldf.fi/schema/warsa/"

ACTORS = "http://ldf.fi/warsa/actors/"
RANKS_NS = "http://ldf.fi/schema/warsa/actors/ranks/"
UNITS_NS = "http://ldf.fi/warsa/actors/"
EVENTS_NS = "http://ldf.fi/warsa/events/"
TIMES_NS = "http://ldf.fi/warsa/events/times/"
CONFLICTS_NS = "http://ldf.fi/warsa/conflicts/"
PNR_NS = "http://ldf.fi/pnr/"
WARSA_MUNICIPALITIES_NS = "http://ldf.fi/warsa/places/municipalities/"

CEMETERIES = "http://ldf.fi/warsa/places/cemeteries/"
MOTHER_TONGUES = "http://ldf.fi/warsa/mother_tongues/"
MARITAL_STATUSES = "http://ldf.fi/warsa/marital_statuses/"
GENDERS = "http://ldf.fi/warsa/genders/"
PERISHING_CLASSES = "http://ldf.fi/warsa/perishing_categories/"
CITIZENSHIPS = "http://ldf.fi/warsa/citizenships/"
NATIONALITIES = "http://ldf.fi/warsa/nationalities/"
MUNICIPALITIES = "http://ldf.fi/warsa/casualties/municipalities/"
OCCUPATIONS_NS = "http://ldf.fi/warsa/occupations/"

RDF_TYPE = RDF_NS + "type"
SKOS_PREF_LABEL = SKOS + "prefLabel"
DCT_SOURCE = DCT + "source"
NARC_SOURCE = "http://ldf.fi/warsa/sources/source9"
WINTER_WAR = CONFLICTS_NS + "WinterWar"
CONTINUATION_WAR = CONFLICTS_NS + "ContinuationWar"
RELATED_PERIOD = "http://ldf.fi/schema/warsa/events/related_period"
HAS_RANK_PROP = "http://ldf.fi/schema/warsa/actors/hasRank"


def cas(local: str) -> str:
    return SCHEMA_CAS + local


def warsa(local: str) -> str:
    return SCHEMA_WARSA + local
