"""Library operators (SURVEY.md §4.3) — no custom Catalyst rules needed;
each is a composition of DataFrame algebra that Catalyst can optimize."""
