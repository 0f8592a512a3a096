"""Agent/server/capability ontology: enums, keyword tables, classifiers.

Semantics mirror the reference (cited per item); implementation is pure
Spark ``Column`` expressions — substring containment compiled to JVM-side
``contains``, no Python in the hot path.

Reference semantics reproduced:
  * category keyword map   -> /root/reference/src/scrapers.py:115-138 (P2)
  * operation keyword map  -> /root/reference/src/scrapers.py:140-156 (P3)
  * MCP-server predicate   -> /root/reference/src/scrapers.py:309-337 (P1)
  * enum value sets        -> /root/reference/src/models.py:8-38,96-105
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from askg_spark.session import local_frame

# --- enum value sets (models.py:8-38) ---------------------------------------

SERVER_CATEGORIES = [
    "database", "file_system", "api_integration", "development_tools",
    "data_processing", "cloud_services", "communication", "authentication",
    "monitoring", "search", "ai_ml", "other",
]

OPERATION_TYPES = [
    "read", "write", "query", "execute", "transform", "analyze", "sync",
    "stream",
]

REGISTRY_SOURCES = ["github", "mcp.so", "glama", "mcpmarket.com"]

RELATIONSHIP_TYPES = [
    "similar_functionality", "complementary", "depends_on", "alternative_to",
    "extends", "integrates_with", "same_author", "same_category", "data_flow",
]

# --- keyword tables ----------------------------------------------------------

# scrapers.py:119-132 — *substring* containment over lower(description+" "+name),
# matched in dict order; every matching category is appended; default "other".
CATEGORY_KEYWORDS: list[tuple[str, list[str]]] = [
    ("database", ["database", "sql", "postgres", "mysql", "mongodb", "redis"]),
    ("file_system", ["file", "filesystem", "directory", "folder", "storage"]),
    ("api_integration", ["api", "rest", "graphql", "webhook", "http"]),
    ("development_tools", ["git", "github", "code", "development", "build"]),
    ("data_processing", ["data", "etl", "transform", "process", "analytics"]),
    ("cloud_services", ["aws", "azure", "gcp", "cloud", "kubernetes"]),
    ("communication", ["slack", "discord", "email", "notification", "message"]),
    ("authentication", ["auth", "oauth", "login", "security", "jwt"]),
    ("monitoring", ["monitor", "metrics", "logging", "observability"]),
    ("search", ["search", "index", "elasticsearch", "solr"]),
    ("ai_ml", ["ai", "ml", "machine learning", "neural", "model"]),
]

# scrapers.py:146-154 — per-tool first-match-wins (if/elif chain),
# union over tools, default ["read"].
OPERATION_KEYWORDS: list[tuple[str, list[str]]] = [
    ("read", ["get", "read", "fetch", "list"]),
    ("write", ["create", "write", "update", "delete"]),
    ("query", ["query", "search", "find"]),
    ("execute", ["execute", "run", "call"]),
]

# scrapers.py:322-326 — README-level MCP indicators (substring, lowercase).
MCP_INDICATORS = [
    "mcp server", "model context protocol", "mcp-server",
    "claude desktop", "mcp.json", "model-context-protocol",
]


# --- Column-expression classifiers -------------------------------------------

def _contains_any(text: Column, keywords: list[str]) -> Column:
    """substring-containment OR-chain, stays in whole-stage codegen."""
    cond = F.lit(False)
    for kw in keywords:
        cond = cond | text.contains(kw)
    return cond


def is_mcp_server(text_col: Column) -> Column:
    """P1: page-text predicate; scrapers.py:309-337 semantics
    (lowercased substring containment of any indicator)."""
    return _contains_any(F.lower(text_col), MCP_INDICATORS)


def classify_categories(name: Column, description: Column) -> Column:
    """P2: keyword mention detection -> array<string> of categories.

    Matches scrapers.py:115-138: probe text is
    ``lower(description + " " + name)``; every matching category appended
    in keyword-table order; default ``["other"]``.
    """
    probe = F.lower(
        F.concat_ws(" ", F.coalesce(description, F.lit("")), F.coalesce(name, F.lit("")))
    )
    hits = F.array(*[
        F.when(_contains_any(probe, kws), F.lit(cat)) for cat, kws in CATEGORY_KEYWORDS
    ])
    compacted = F.array_compact(hits)
    return F.when(F.size(compacted) > 0, compacted).otherwise(F.array(F.lit("other")))


def classify_operations(tool_names: Column) -> Column:
    """P3: per-tool first-match-wins op classification -> array<string>.

    Matches scrapers.py:140-156: for each tool name (lowercased), the
    if/elif chain assigns the FIRST matching operation class; result is the
    distinct union over tools, default ``["read"]`` (also when no tools).
    """
    def tool_op(t: Column) -> Column:
        lt = F.lower(t)
        expr = F.lit(None).cast("string")
        # build the elif chain bottom-up so "read" wins over "write" etc.
        for op, kws in reversed(OPERATION_KEYWORDS):
            expr = F.when(_contains_any(lt, kws), F.lit(op)).otherwise(expr)
        return expr

    ops = F.array_compact(F.transform(tool_names, tool_op))
    dedup = F.array_sort(F.array_distinct(ops))
    return F.when(
        tool_names.isNull() | (F.size(F.array_compact(dedup)) == 0),
        F.array(F.lit("read")),
    ).otherwise(dedup)


# --- S11 ontology-category dimension (static, broadcast-sized) ---------------

# The reference predefines seven root categories with ontological
# properties (main.py:20-93 create_ontology_categories) and ships a
# parent mechanism — OntologyCategory.parent_category_id
# (models.py:125-136) materialized as (parent)-[:HAS_SUBCATEGORY]->
# (child) edges (neo4j_integration.py:294-338). The built-ins set no
# parents; master_data.py:160 loads arbitrary parented categories. This
# dimension completes the 12-value ServerCategory enum (models.py:8-20)
# and instantiates the parent mechanism with a documented grounding
# rule: a non-predefined enum value is attached to the predefined root
# whose own operational/integration pattern lists contain that value's
# defining keyword —
#   authentication -> api_integration  ("oauth"/"jwt" are
#       api_integration.integration_patterns entries)
#   monitoring     -> cloud_services   ("monitor" is a
#       cloud_services.operational_patterns entry)
#   search         -> file_system      ("search" is a
#       file_system.operational_patterns entry)
# ai_ml and other have no grounding keyword in any root's lists and
# stay roots. Fields of the seven predefined rows are verbatim
# reference values (the semantic contract).
ONTOLOGY_CATEGORIES: list[dict] = [
    {"id": "database", "name": "Database Systems",
     "parent_category_id": None,
     "data_domains": ["sql", "nosql", "key-value", "document", "graph"],
     "operational_patterns": ["query", "crud", "transaction", "migration"],
     "integration_patterns": ["connection-pool", "orm", "raw-sql"]},
    {"id": "file_system", "name": "File System Operations",
     "parent_category_id": None,
     "data_domains": ["text", "binary", "structured", "media"],
     "operational_patterns": ["read", "write", "search", "watch", "sync"],
     "integration_patterns": ["local-fs", "cloud-storage",
                              "version-control"]},
    {"id": "api_integration", "name": "API Integration",
     "parent_category_id": None,
     "data_domains": ["rest", "graphql", "soap", "webhooks"],
     "operational_patterns": ["request", "response", "polling",
                              "streaming"],
     "integration_patterns": ["oauth", "api-key", "jwt", "rate-limiting"]},
    {"id": "development_tools", "name": "Development Tools",
     "parent_category_id": None,
     "data_domains": ["code", "documentation", "builds", "deployments"],
     "operational_patterns": ["analyze", "transform", "build", "test",
                              "deploy"],
     "integration_patterns": ["git", "ci-cd", "package-managers", "ide"]},
    {"id": "data_processing", "name": "Data Processing",
     "parent_category_id": None,
     "data_domains": ["structured", "unstructured", "streams", "batches"],
     "operational_patterns": ["extract", "transform", "load", "analyze",
                              "aggregate"],
     "integration_patterns": ["etl-pipelines", "streaming",
                              "batch-processing"]},
    {"id": "cloud_services", "name": "Cloud Services",
     "parent_category_id": None,
     "data_domains": ["infrastructure", "compute", "storage",
                      "networking"],
     "operational_patterns": ["provision", "scale", "monitor", "backup"],
     "integration_patterns": ["aws", "azure", "gcp", "kubernetes"]},
    {"id": "communication", "name": "Communication",
     "parent_category_id": None,
     "data_domains": ["messages", "notifications", "emails", "chats"],
     "operational_patterns": ["send", "receive", "broadcast", "queue"],
     "integration_patterns": ["slack", "discord", "email", "sms",
                              "webhooks"]},
    # enum completions (models.py:16-20); parents per the grounding rule
    {"id": "authentication", "name": "Authentication",
     "parent_category_id": "api_integration",
     "data_domains": [], "operational_patterns": [],
     "integration_patterns": []},
    {"id": "monitoring", "name": "Monitoring",
     "parent_category_id": "cloud_services",
     "data_domains": [], "operational_patterns": [],
     "integration_patterns": []},
    {"id": "search", "name": "Search",
     "parent_category_id": "file_system",
     "data_domains": [], "operational_patterns": [],
     "integration_patterns": []},
    {"id": "ai_ml", "name": "AI / ML", "parent_category_id": None,
     "data_domains": [], "operational_patterns": [],
     "integration_patterns": []},
    {"id": "other", "name": "Other", "parent_category_id": None,
     "data_domains": [], "operational_patterns": [],
     "integration_patterns": []},
]

_ONTOLOGY_SCHEMA = (
    "id string, name string, parent_category_id string, "
    "data_domains array<string>, operational_patterns array<string>, "
    "integration_patterns array<string>")


def ontology_categories(spark) -> DataFrame:
    """The static category dimension as a DataFrame — 12 rows, always
    broadcast-joined by consumers (a local relation built through
    Arrow; Catalyst plans LocalTableScan, it collects without a job and
    no shuffle can originate here)."""
    rows = [(c["id"], c["name"], c["parent_category_id"],
             c["data_domains"], c["operational_patterns"],
             c["integration_patterns"]) for c in ONTOLOGY_CATEGORIES]
    return local_frame(spark, rows, _ONTOLOGY_SCHEMA)
