"""String / date scalar kernels (SURVEY §2.8) — all Catalyst builtins."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# X8 — service-name formatting (/root/reference/receiver/githubreceiver/
# model.go:339-343): lowercase, '_' -> '-'.
def format_service_name(col: Column | str) -> Column:
    return F.lower(F.regexp_replace(_c(col), "_", "-"))


# X9 — API URL -> HTML URL (/root/reference/receiver/githubreceiver/
# model.go:346-349).
def api_to_html_url(col: Column | str) -> Column:
    return F.regexp_replace(_c(col), r"api\.github\.com/repos", "github.com")


# Go strings.Replace(s, old, new, 1): the FIRST occurrence only, which
# regexp_replace cannot limit (githubreceiver convertPRURL, azuredevopsreceiver
# transformAzureDevOpsURL trace_attributes.go:194-198).
def replace_first(col: Column | str, old: str, new: str) -> Column:
    c = _c(col)
    pos = F.instr(c, F.lit(old))
    after = c.substr(pos + len(old), F.length(c))
    return F.when(pos > 0, F.concat(c.substr(F.lit(1), pos - 1), F.lit(new), after)).otherwise(c)


# X10 — refs/heads/ prefix strip (/root/reference/receiver/azuredevopsreceiver/
# internal/scraper/azuredevopsscraper/helpers.go:224-228).
def strip_refs_heads(col: Column | str) -> Column:
    return F.regexp_replace(_c(col), "^refs/heads/", "")


# X11 — tags: split ';', trim, drop empties (/root/reference/receiver/
# azuredevopsreceiver/internal/scraper/azuredevopsscraper/work_items.go:215-229).
def split_tags(col: Column | str) -> Column:
    return F.filter(
        F.transform(F.split(_c(col), ";"), lambda x: F.trim(x)),
        lambda x: x != "",
    )


# X12 — a CI-config line that includes a catalog component; group 1 is the
# component path with its @version (gitlabcatalogscraper/helpers.go:19,109-136).
CATALOG_COMPONENT_RE = r"^\s*-\s*component:\s*[^/]+/(.+)"


# X17 — getAge(start, end) in whole seconds (/root/reference/receiver/
# githubreceiver/internal/scraper/githubscraper/helpers.go:410-412).
def age_seconds(start: Column | str, end: Column | str) -> Column:
    return (F.unix_timestamp(_c(end)) - F.unix_timestamp(_c(start))).cast("long")


# X18 — release name -> service: first space-delimited word, 'unknown' fallback
# (/root/reference/receiver/azuredevopsreceiver/internal/scraper/
# azuredevopsscraper/deployments.go:271-284).
def release_to_service(col: Column | str) -> Column:
    first = F.split(_c(col), " ").getItem(0)
    return F.coalesce(F.nullif(first, F.lit("")), F.lit("unknown"))


# X22 — workflow path -> short lowercase name: strip '@ref', take basename,
# strip extension (/root/reference/receiver/githubreceiver/model.go:291-309).
def workflow_path_to_name(col: Column | str) -> Column:
    p = F.substring_index(_c(col), "@", 1)
    base = F.substring_index(p, "/", -1)
    return F.lower(F.substring_index(base, ".", 1))
