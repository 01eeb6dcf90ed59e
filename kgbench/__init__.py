"""KG-construction benchmark: batch build, incremental recrawl and SPARQL
read workloads over the dbpedia_spotlight_spark package (see NOTES.md)."""
