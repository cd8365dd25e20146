.PHONY: dist test check bench bench-test scaling clean

dist:
	mkdir -p dist
	cd . && python -c "import shutil; shutil.make_archive('dist/blog_parser_spark', 'zip', '.', 'blog_parser_spark')"

test:
	python -m pytest tests/ -x -q

check:
	python tools/check_queries.py /root/testdata/sf0.01

bench:
	python bench.py

bench-test:
	python -m pytest webbench/tests -q

scaling:
	python tools/scaling_bench.py flagship --docs 2000000 --runs 3

clean:
	rm -rf dist /tmp/bench_pages_* /tmp/scaling_pages_*
